"""Artifact round-trip queries: the sink/source family (S2/S3/S4) driven
end-to-end as a driver-checkable query.

The reference's export path packs quantized layer blobs behind a
magic/crc32/sha256 header plus a flash address map
(`tools/hive_compile.py:143-220`, `imc22_sdk/model_loader.h:26-54`) and can
also emit the weights as a C header (`tools/train_adaptive_model.py:
315-379`). q157 exercises pack → load → re-verify in one query: the
weights are a pure function of the `part` table, so DuckDB can recompute
the whole manifest — layer sizes, 256-B-aligned flash addresses, and the
md5 of the exact C-header text — independently, while the CRC/SHA columns
are genuinely recomputed from the bytes written to disk.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_reflex_spark.functions import duck_exact_sum, exact_sum
from hive_reflex_spark.io import read_table
from hive_reflex_spark.registry import query
from hive_reflex_spark.session import scratch_path
from hive_reflex_spark.sources.sinks import (
    export_c_header,
    load_model_binary,
    pack_model_binary,
    read_json_config,
    write_profile_csv,
    write_runtime_log_json,
)

# planner-scale cap: the packed blob is bounded (<4 KiB) at ANY corpus SF —
# the driver-side collect inside pack_model_binary stays bounded by design
PACK_CAP = 4096


def _pack_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(layer, i, j, value): a bijective re-keying of p_partkey < PACK_CAP
    whose int8 quantization is exact — value = q/127 with
    q = (p_partkey*37) % 255 - 127 ∈ [-127, 127], so round(value*127)
    recovers q in every engine."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") < PACK_CAP)
    pk = F.col("p_partkey")
    return part.select(
        (pk % 3).cast("int").alias("layer"),
        (F.floor(pk / 3) % 16).cast("int").alias("i"),
        F.floor(pk / 48).cast("int").alias("j"),
        (((pk * 37) % 255 - 127) / 127.0).alias("value"),
    )


@query(
    "q157_model_pack_roundtrip",
    oracle=f"""
    WITH w AS (
        SELECT p_partkey % 3 AS layer,
               (p_partkey // 3) % 16 AS i,
               p_partkey // 48 AS j,
               (p_partkey * 37) % 255 - 127 AS q
        FROM part WHERE p_partkey < {PACK_CAP}),
    per AS (
        SELECT layer, CAST(COUNT(*) AS BIGINT) AS n_weights,
               CAST(COUNT(*) AS BIGINT) AS blob_bytes,
               CAST(ceil(COUNT(*) / 256.0) * 256 AS BIGINT) AS aligned
        FROM w GROUP BY layer),
    lay AS (
        SELECT layer, n_weights, blob_bytes,
               CAST(COALESCE(SUM(aligned) OVER (ORDER BY layer
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS flash_addr
        FROM per),
    hdr AS (
        SELECT md5('// generated by hive-reflex-spark' || chr(10) ||
                   '#include <stdint.h>' || chr(10) ||
                   'static const int8_t model_weights[' ||
                   CAST(COUNT(*) AS VARCHAR) || '] = ' || chr(123) ||
                   string_agg(CAST(q AS VARCHAR), ', ' ORDER BY layer, i, j)
                   || chr(125) || ';' || chr(10)) AS header_md5
        FROM w)
    SELECT layer, n_weights, blob_bytes, flash_addr,
           TRUE AS crc_ok, TRUE AS sha_ok, header_md5
    FROM lay CROSS JOIN hdr
    """,
)
def q157_model_pack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3/S4 round-trip: quantize+pack the weights to a flash image,
    run the loader contract (magic / body+per-layer CRC / sha256 model
    hash, `imc22_sdk/model_loader.h:26-54`), then RE-verify every
    checksum directly from the bytes on disk and emit the per-layer
    manifest. The C-header export (S4) rides along as the md5 of its
    exact text, which DuckDB reconstructs character-for-character.
    crc_ok/sha_ok are computed from the file, not asserted — a packing
    bug flips them to false and fails the value-hash."""
    weights = _pack_weights(spark, sf_dir)
    path = scratch_path("artifacts", "q157.bin")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    manifest = pack_model_binary(weights, path)
    load_model_binary(path)  # the SDK loader contract end-to-end

    header_text = export_c_header(weights)
    header_md5 = hashlib.md5(header_text.encode("ascii")).hexdigest()

    with open(path, "rb") as f:
        data = f.read()
    n_layers, _body_crc = struct.unpack("<II", data[4:12])
    header_sha = data[12:76].decode("ascii")
    body = data[76:]
    sha_ok = (
        hashlib.sha256(body).hexdigest() == header_sha == manifest["model_hash"]
    )
    rows = []
    for lay in manifest["layers"]:
        blob = body[lay["flash_addr"] : lay["flash_addr"] + lay["bytes"]]
        rows.append(
            (
                int(lay["layer"]),
                int(lay["n_weights"]),
                int(lay["bytes"]),
                int(lay["flash_addr"]),
                (zlib.crc32(blob) & 0xFFFFFFFF) == lay["crc32"],
                bool(sha_ok) and n_layers == len(manifest["layers"]),
                header_md5,
            )
        )
    return spark.createDataFrame(
        rows,
        "layer bigint, n_weights bigint, blob_bytes bigint, "
        "flash_addr bigint, "
        "crc_ok boolean, sha_ok boolean, header_md5 string",
    )

@query(
    "q161_profile_csv_roundtrip",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents GROUP BY source
    """,
)
def q161_profile_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 profiling-CSV sink driven end-to-end (`simulator/profiler.py:
    160-166` report shape): per-source profile rows → write_profile_csv →
    re-read with an explicit schema → returned AS READ. The oracle
    computes the same profile straight from the parquet, so a header,
    quoting, or type round-trip bug in the CSV path fails the hash.
    Integer columns only — CSV float formatting is not part of the
    contract being tested."""
    docs = read_table(spark, sf_dir, "documents")
    prof = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    path = scratch_path("artifacts", "q161_csv")
    write_profile_csv(prof, path)
    return spark.read.schema(
        "source string, n_docs bigint, total_chars bigint, "
        "min_doc bigint, max_doc bigint"
    ).option("header", "true").csv(path)


_LOG_MIN_LEVEL = 2


@query(
    "q162_jsonlog_roundtrip",
    oracle=f"""
    WITH logs AS (
        SELECT event_id, user_id,
               CAST(event_id % 4 AS INTEGER) AS level, value
        FROM events)
    SELECT level, COUNT(*) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS min_event,
           ROUND({duck_exact_sum("value", 6)}, 6) AS total_value
    FROM logs WHERE level >= {_LOG_MIN_LEVEL}
    GROUP BY level
    """,
)
def q162_jsonlog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+S7 JSON round-trip: telemetry rows → write_runtime_log_json →
    re-read with explicit schema; the severity floor comes from a
    device-config JSON read through read_json_config (S7,
    `mlir_compiler/rtl_pruner.py:50-60`), not a literal. The oracle
    recomputes the rollup from the parquet with the config constant
    inlined, so a JSON double-precision or schema round-trip bug fails
    the hash (`tools/ai_feedback.py:88-118` log shipping semantics)."""
    import json as _json

    events = read_table(spark, sf_dir, "events")
    logs = events.select(
        "event_id",
        "user_id",
        (F.col("event_id") % 4).cast("int").alias("level"),
        "value",
    )
    out_dir = scratch_path("artifacts")
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, "q162_json")
    write_runtime_log_json(logs, log_path)
    cfg_path = os.path.join(out_dir, "q162_cfg.json")
    with open(cfg_path, "w") as f:
        _json.dump({"min_level": _LOG_MIN_LEVEL, "device": "hrs-node-0"}, f)
    cfg = read_json_config(spark, cfg_path)
    min_level = int(cfg.select("min_level").first()["min_level"])
    back = spark.read.schema(
        "event_id long, user_id long, level int, value double"
    ).json(log_path)
    return (
        back.filter(F.col("level") >= min_level)
        .groupBy("level")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_event"),
            F.round(exact_sum(F.col("value"), 6), 6).alias("total_value"),
        )
    )
