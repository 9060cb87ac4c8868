"""Sinks (S2-S6) and the linear-scan allocator (W10): round-trip and
invariant tests."""

from __future__ import annotations

import glob
import json
import os
import tempfile

from pyspark.sql import functions as F

from hive_reflex_spark.io import read_table
from hive_reflex_spark.plans import liveness
from hive_reflex_spark.plans.passes import allocate_buffers
from hive_reflex_spark.sources.sinks import (
    load_model_binary,
    pack_model_binary,
    write_partitioned_parquet,
    write_profile_csv,
    write_runtime_log_json,
)
from hive_reflex_spark.streaming.ops import batched_log_shipping


def test_pack_model_roundtrip(spark):
    """S2/S3: quantize → pack → header+CRC validate → addresses aligned."""
    rows = [
        ("fc1", i, j, float((i * 3 + j) % 7 - 3) / 3)
        for i in range(12)
        for j in range(32)
    ] + [("fc2", i, j, float(i - j) / 16) for i in range(32) for j in range(16)]
    w = spark.createDataFrame(rows, "layer string, i int, j int, value double")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "model.bin")
        manifest = pack_model_binary(w, path)
        assert manifest["n_layers"] == 2
        for layer in manifest["layers"]:
            assert layer["flash_addr"] % 256 == 0
        sizes = {m["layer"]: m["n_weights"] for m in manifest["layers"]}
        assert sizes == {"fc1": 12 * 32, "fc2": 32 * 16}
        # loader validates magic + body CRC + per-layer CRCs
        loaded = load_model_binary(path)
        assert loaded["layers"] == manifest["layers"]


def test_csv_json_parquet_sinks(spark, sf_smoke):
    events = read_table(spark, sf_smoke, "events").limit(100)
    with tempfile.TemporaryDirectory() as d:
        write_profile_csv(events.select("event_id", "event_type", "value"),
                          os.path.join(d, "csv"))
        back = spark.read.csv(os.path.join(d, "csv"), header=True)
        assert back.count() == 100

        write_runtime_log_json(events, os.path.join(d, "json"))
        back = spark.read.json(os.path.join(d, "json"))
        assert back.count() == 100

        write_partitioned_parquet(events, os.path.join(d, "pq"), "event_type")
        # partition pruning: reading one partition touches one directory
        one = spark.read.parquet(os.path.join(d, "pq")).filter(
            F.col("event_type") == "click"
        )
        assert one.count() == events.filter(F.col("event_type") == "click").count()
        assert os.path.isdir(os.path.join(d, "pq", "event_type=click"))


def test_allocator_no_overlap_for_live_tensors(spark):
    """W10 invariant (`memory_planner.py:74-129`): two tensors with
    overlapping lifetimes never share bytes; the residual input 'a' must
    not be overlaid by 'b'."""
    layers = spark.createDataFrame(
        [
            ("r", 0, "l1", "Gemm", 8, 8, ["x"], ["a"]),
            ("r", 1, "l2", "Gemm", 8, 8, ["a"], ["b"]),
            ("r", 2, "l3", "Add", None, None, ["a", "b"], ["y"]),
        ],
        "model string, idx int, name string, op_type string, rows int, "
        "cols int, inputs array<string>, outputs array<string>",
    )
    live = liveness(layers)
    sizes = spark.createDataFrame(
        [("r", t, 64) for t in ("x", "a", "b", "y")],
        "model string, tensor string, size_bytes long",
    )
    got = {r.tensor: (r.offset, r.offset + r.size_bytes, r.first_def if r.first_def is not None else -1, r.last_use)
           for r in allocate_buffers(live, sizes).collect()}
    # pairwise: overlapping lifetime => disjoint ranges
    items = list(got.items())
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            (ta, (o1, e1, f1, l1)), (tb, (o2, e2, f2, l2)) = items[i], items[j]
            lifetimes_overlap = not (l1 < f2 or l2 < f1)
            ranges_overlap = not (e1 <= o2 or e2 <= o1)
            assert not (lifetimes_overlap and ranges_overlap), (ta, tb, got)
    assert not (got["a"][0] < got["b"][1] and got["b"][0] < got["a"][1])


def test_batched_log_shipping(spark, sf_smoke):
    """ST6: foreachBatch JSON shipping — every source row lands in exactly
    one shipped batch."""
    with tempfile.TemporaryDirectory() as d:
        paths = batched_log_shipping(spark, sf_smoke, d)
        assert paths
        shipped = spark.read.json(glob.glob(os.path.join(d, "batch_*")))
        n_src = read_table(spark, sf_smoke, "events").count()
        assert shipped.count() == n_src
        assert shipped.select("event_id").distinct().count() == n_src


def test_can_frame_wire_roundtrip(spark):
    """S8/P13: synthesized frames decode back to the exact angles and
    compliances the tick values encode — two's-complement int16 LE
    reassembly included — and non-command ids are dropped."""
    from hive_reflex_spark.streaming.ops import (
        decode_can_frames,
        synthesize_can_frames,
    )

    ticks = spark.range(1000).select(
        F.col("id").alias("value"),
        F.timestamp_micros(F.col("id") * 1000).alias("timestamp"),
    )
    frames = synthesize_can_frames(ticks)
    decoded = decode_can_frames(frames).collect()
    # every 8th tick is bus noise with a foreign id -> filtered out
    assert len(decoded) == 1000 - 125
    got = {
        int(r.ts.timestamp() * 1_000_000) // 1000: r for r in decoded
    }
    for v in (1, 2, 777, 999):
        expect_angle = ((v * 37 + 13) % 36000 - 18000) * 0.01
        assert abs(got[v].target_angle - expect_angle) < 1e-9, v
        assert abs(got[v].compliance - ((v * 7) % 256) / 255.0) < 1e-9, v
        assert 0.0 <= got[v].compliance <= 1.0
        assert -180.0 <= got[v].target_angle <= 180.0


def test_can_bus_stream_is_continuous(spark):
    """S8: the rate-source bus produces decoded command frames while
    running — a stream with no end, stopped by the consumer."""
    import time

    from hive_reflex_spark.streaming.ops import can_bus_stream

    stream = can_bus_stream(spark, rows_per_second=2000)
    q = (
        stream.writeStream.format("memory")
        .queryName("can_live")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.table("can_live").count()
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0, "no frames decoded from the live bus"
        row = spark.table("can_live").first()
        assert -180.0 <= row.target_angle <= 180.0
        assert 0.0 <= row.compliance <= 1.0
    finally:
        q.stop()


def test_ota_feedback_loop_end_to_end(spark, sf_smoke):
    """ST7: the composed collect→aggregate→decide→optimize→package→ship
    loop over the replayed events — one iteration per micro-batch, every
    deployed artifact CRC-validates, the shipped log covers every epoch,
    and versions increment monotonically."""
    import json

    from hive_reflex_spark.sources.sinks import load_model_binary
    from hive_reflex_spark.streaming.ops import ota_feedback_loop

    with tempfile.TemporaryDirectory() as d:
        summary = ota_feedback_loop(spark, sf_smoke, d, n_chunks=4)
        assert summary["iterations"] == 4
        # the smoke fixture has 1000 events in 4 chunks -> each batch has
        # ~250 >= min_samples and non-zero drift: every epoch deploys
        assert summary["deployed"] == [f"2.1.{i}" for i in range(1, 5)]
        with open(summary["log_path"]) as f:
            log = [json.loads(line) for line in f]
        assert [e["epoch"] for e in log] == sorted(e["epoch"] for e in log)
        assert all(e["n_samples"] > 0 for e in log)
        for e in log:
            if e["action"] == "deployed":
                manifest = load_model_binary(e["artifact"])
                assert manifest["n_layers"] == 1
        # the loop state advanced: final version is the last deployment
        assert summary["final_version"] == "2.1.4"


def test_ota_feedback_loop_log_holds_one_run(spark, sf_smoke, tmp_path):
    """A second run into the same out_dir starts a fresh log: the log
    holds exactly that run's iterations, and every artifact it names
    exists."""
    from hive_reflex_spark.streaming.ops import ota_feedback_loop

    for call in (1, 2):
        summary = ota_feedback_loop(spark, sf_smoke, str(tmp_path), n_chunks=4)
        with open(summary["log_path"]) as f:
            log = [json.loads(line) for line in f]
        assert len(log) == summary["iterations"], call
        for e in log:
            if "artifact" in e:
                assert os.path.exists(e["artifact"]), (call, e["artifact"])


def test_lz4_block_roundtrip(spark):
    """C2: LZ4 block codec — round-trip on repetitive, random, empty and
    short payloads; repetitive data must actually compress; the Spark
    pandas-UDF column path matches the pure-Python decoder."""
    import random

    from hive_reflex_spark.functions.lz4 import (
        lz4_block_compress,
        lz4_block_decompress,
        lz4_decompress_col,
    )

    rng = random.Random(11)
    payloads = [
        b"",
        b"a",
        b"abcd" * 400,
        bytes(rng.randrange(256) for _ in range(3000)),
        (b"weights:" + bytes(range(32))) * 64,
        b"\x00" * 5000,
    ]
    for p in payloads:
        enc = lz4_block_compress(p)
        assert lz4_block_decompress(enc) == p, len(p)
    assert len(lz4_block_compress(b"abcd" * 400)) < 200  # 1600 -> compressed
    assert len(lz4_block_compress(b"\x00" * 5000)) < 60

    df = spark.createDataFrame(
        [(i, lz4_block_compress(p)) for i, p in enumerate(payloads)],
        "id int, blob binary",
    )
    got = {
        r.id: bytes(r.out)
        for r in df.select("id", lz4_decompress_col(F.col("blob")).alias("out")).collect()
    }
    for i, p in enumerate(payloads):
        assert got[i] == p, i


def test_pack_model_rejects_tampered_body(spark, tmp_path):
    """The loader contract must catch single-byte corruption through BOTH
    integrity fields: crc32 (fast check) and the sha256 model hash
    (model_loader.h:39-41 parity)."""
    import pytest

    w = spark.createDataFrame(
        [("fc1", i, j, (i * 7 + j) % 13 / 13.0) for i in range(8) for j in range(8)],
        "layer string, i int, j int, value double",
    )
    path = str(tmp_path / "m.bin")
    manifest = pack_model_binary(w, path)
    assert len(manifest["model_hash"]) == 64
    loaded = load_model_binary(path)
    assert loaded["model_hash"] == manifest["model_hash"]

    data = bytearray(open(path, "rb").read())
    data[-1] ^= 0xFF  # flip one body byte
    open(path, "wb").write(bytes(data))
    with pytest.raises(AssertionError):
        load_model_binary(path)


def test_layer_slices_invariants(spark, sf_smoke):
    """q166 conservation + capacity: every pack-slice totals <= 8 KiB,
    split chunks reassemble their layer exactly, and total bytes are
    conserved vs the input layer sizes."""
    import __spark_entry__ as em
    from hive_reflex_spark.io import read_table
    from hive_reflex_spark.operators.compiler import _SLICE_BPR, _SLICE_MAX_B

    rows = em.queries()["q166_layer_slices"](spark, sf_smoke).collect()
    part = {
        r.p_partkey: r.p_size * _SLICE_BPR
        for r in read_table(spark, sf_smoke, "part")
        .filter("p_partkey < 512")
        .collect()
    }
    assert sum(r.chunk_bytes for r in rows) == sum(part.values())
    by_slice: dict = {}
    by_layer: dict = {}
    for r in rows:
        if r.group_kind == "pack":
            by_slice.setdefault(r.group_seq, 0)
            by_slice[r.group_seq] += r.chunk_bytes
            assert r.chunk_bytes <= _SLICE_MAX_B
        else:
            by_layer.setdefault(r.pk, 0)
            by_layer[r.pk] += r.chunk_bytes
            assert r.chunk_bytes <= _SLICE_MAX_B
    for seq, total in by_slice.items():
        assert total <= _SLICE_MAX_B, (seq, total)
    for pk, total in by_layer.items():
        assert total == part[pk] and part[pk] > _SLICE_MAX_B


def test_slcan_encode_parse_roundtrip_batch(spark, sf_smoke):
    """S8 wire transport codec: frames → SLCAN text → parse must be the
    identity on (node_id, can_id-class, data) for command frames, and
    noise frames must come back under a non-command id (dropped by
    decode). Verified byte-for-byte against the synthesis arithmetic on
    the events fixture — same discipline as the q160 wire oracle."""
    from hive_reflex_spark.io import read_table
    from hive_reflex_spark.streaming.ops import (
        CAN_CMD_ID,
        decode_can_frames,
        parse_slcan_frames,
        slcan_encode_lines,
        synthesize_can_frames,
    )

    ticks = read_table(spark, sf_smoke, "events").select("event_id", "ts")
    frames = synthesize_can_frames(ticks, value_col="event_id", ts_col="ts")
    lines = slcan_encode_lines(frames.drop("ts")).withColumn(
        "timestamp", F.current_timestamp()
    )
    sample = lines.select("value").first()["value"]
    assert sample.startswith("t") and len(sample) == 5 + 16  # 8-byte DLC

    parsed = parse_slcan_frames(lines)
    got = (
        decode_can_frames(parsed)
        .groupBy("node_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("target_angle") * 100).cast("long")).alias("su"),
        )
        .collect()
    )
    want = (
        decode_can_frames(frames)
        .groupBy("node_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("target_angle") * 100).cast("long")).alias("su"),
        )
        .collect()
    )
    as_set = lambda rows: {(r.node_id, r.n, r.su) for r in rows}
    assert as_set(got) == as_set(want)
    assert got and all(r.n > 0 for r in got)


def test_can_bus_socket_stream_end_to_end(spark, sf_smoke):
    """S8 over a REAL transport (VERDICT r7 item 6): a TCP server
    replays SLCAN frames; can_bus_socket_stream consumes the socket,
    parses the wire text, and decodes through the same path as the
    rate-source bus. The decoded multiset must match the batch decode
    of the identical frames."""
    import socket
    import socketserver
    import threading
    import time

    from hive_reflex_spark.io import read_table
    from hive_reflex_spark.streaming.ops import (
        can_bus_socket_stream,
        decode_can_frames,
        slcan_encode_lines,
        synthesize_can_frames,
    )

    ticks = (
        read_table(spark, sf_smoke, "events")
        .select("event_id", "ts")
        .limit(200)
    )
    frames = synthesize_can_frames(ticks, value_col="event_id", ts_col="ts")
    payload = "".join(
        r["value"] + "\n"
        for r in slcan_encode_lines(frames.drop("ts")).collect()
    ).encode()

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            try:
                self.request.sendall(payload)
                time.sleep(30)  # hold the connection open for the reader
            except (BrokenPipeError, ConnectionResetError):
                pass

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    stream = can_bus_socket_stream(spark, "127.0.0.1", port)
    q = (
        stream.writeStream.format("memory")
        .queryName("can_socket")
        .outputMode("append")
        .start()
    )
    try:
        want = {
            (r.node_id, round(r.target_angle, 6), round(r.compliance, 6))
            for r in decode_can_frames(frames).collect()
        }
        n_want = decode_can_frames(frames).count()
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("can_socket").count() >= n_want:
                break
            time.sleep(0.5)
        rows = spark.table("can_socket").collect()
        assert len(rows) == n_want, (len(rows), n_want)
        got = {
            (r.node_id, round(r.target_angle, 6), round(r.compliance, 6))
            for r in rows
        }
        assert got == want
    finally:
        q.stop()
        srv.shutdown()
        srv.server_close()
