"""Numpy-oracle tests for the recurrence tier (FIXTURES.md oracle policy:
tensor/filter ops are checked against a numpy reimplementation of the
cited reference function), plus streaming semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hive_reflex_spark.io import read_table
from hive_reflex_spark.operators.timeseries import (
    complementary_filter,
    ewma,
    iir_lowpass,
    pid_controller,
)
from hive_reflex_spark.sources.multimodal import (
    decode_frames,
    extract_features,
    with_binary_payload,
)
from hive_reflex_spark.streaming.ops import stateful_user_counts


def _series_df(spark, n=200, keys=3, seed=11):
    rng = np.random.default_rng(seed)
    rows = [
        (int(k), int(i), float(v))
        for k in range(keys)
        for i, v in enumerate(rng.normal(size=n))
    ]
    return spark.createDataFrame(rows, "node int, t int, x double")


def test_iir_matches_numpy(spark):
    """`fixed_point_filter.c:63-97` semantics: s = αx + (1−α)s, s0 = x0."""
    df = _series_df(spark)
    out = iir_lowpass(df, ["node"], "t", "x", alpha=0.3)
    for node in range(3):
        rows = sorted(
            out.filter(F.col("node") == node).collect(), key=lambda r: r.t
        )
        x = np.array([r.x for r in rows])
        s = x.copy()
        for i in range(1, len(x)):
            s[i] = 0.3 * x[i] + 0.7 * s[i - 1]
        got = np.array([r.filtered for r in rows])
        np.testing.assert_allclose(got, s, rtol=1e-12)


def test_ewma_is_iir_complement(spark):
    df = _series_df(spark, n=50, keys=1)
    a = sorted(
        iir_lowpass(df, ["node"], "t", "x", alpha=0.2, out_col="y").collect(),
        key=lambda r: r.t,
    )
    b = sorted(
        ewma(df, ["node"], "t", "x", beta=0.8, out_col="y").collect(),
        key=lambda r: r.t,
    )
    # 1-0.8 differs from 0.2 by one ulp → approx, not exact
    np.testing.assert_allclose(
        [r.y for r in a], [r.y for r in b], rtol=1e-12
    )


def test_complementary_filter_matches_numpy(spark):
    """`fixed_point_filter.c:13-57`: s = α(s + gyro·dt) + (1−α)accel."""
    rng = np.random.default_rng(5)
    g, a = rng.normal(size=100), rng.normal(size=100)
    rows = [(0, int(i), float(g[i]), float(a[i])) for i in range(100)]
    df = spark.createDataFrame(rows, "node int, t int, gyro double, accel double")
    out = sorted(
        complementary_filter(
            df, ["node"], "t", "gyro", "accel", alpha=0.98, dt=0.001
        ).collect(),
        key=lambda r: r.t,
    )
    s, exp = 0.0, []
    for i in range(100):
        s = 0.98 * (s + g[i] * 0.001) + 0.02 * a[i]
        exp.append(s)
    np.testing.assert_allclose([r.angle for r in out], exp, rtol=1e-12)


def test_pid_windup_clamp(spark):
    """The clamp must bind: constant error drives the integral to the
    clamp, not beyond (`example_reflex_node.c:45-59` anti-windup)."""
    rows = [(0, i, 10.0) for i in range(100)]
    df = spark.createDataFrame(rows, "node int, t int, err double")
    out = sorted(
        pid_controller(
            df, ["node"], "t", "err", kp=1.0, ki=1.0, kd=0.0, integral_clamp=50.0
        ).collect(),
        key=lambda r: r.t,
    )
    # steady state: u = kp*10 + ki*clamp(∑10) = 10 + 50
    assert out[-1].control == pytest.approx(60.0)
    # without clamp it would be 10 + 1000
    unclamped = sorted(
        pid_controller(df, ["node"], "t", "err", 1.0, 1.0, 0.0).collect(),
        key=lambda r: r.t,
    )
    assert unclamped[-1].control == pytest.approx(1010.0)


def test_stateful_user_counts_match_batch(spark, sf_smoke):
    got = {
        r.user_id: r.n_events
        for r in stateful_user_counts(spark, sf_smoke).collect()
    }
    batch = {
        r.user_id: r.n
        for r in read_table(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_multimodal_frames_and_features(spark, sf_smoke):
    docs = read_table(spark, sf_smoke, "documents").limit(20)
    media = with_binary_payload(docs)
    frames = decode_frames(media).collect()
    byte_totals = {}
    for f in frames:
        byte_totals[f.doc_id] = byte_totals.get(f.doc_id, 0) + f.frame_bytes
    expected = {r.doc_id: r.n_bytes for r in media.collect()}
    assert byte_totals == expected  # frame sampling loses no bytes

    feats = extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.features) == 8
        assert sum(r.features) == pytest.approx(1.0)  # normalized histogram


def test_stream_dedup_drops_planted_dupes(spark, sf_smoke):
    """q97: the salted stream really contains duplicates, and the
    deduplicated output is exactly the distinct event set."""
    from pyspark.sql import functions as F2

    from hive_reflex_spark.io import read_table
    from hive_reflex_spark.operators import streaming_ops as ops

    rows = ops.q97_stream_dedup(spark, sf_smoke).collect()
    assert rows
    n_unique = sum(r["n_unique"] for r in rows)
    n_planted = sum(r["n_had_dupe"] for r in rows)
    assert n_planted > 0, "fixture must plant at least one duplicate"
    events = read_table(spark, sf_smoke, "events")
    n_events = events.count()
    assert n_unique == n_events
    # the salted input stream had n_events + n_planted rows
    n_salted = events.filter(
        (F2.col("event_id") % ops.DUP_MOD) == 0
    ).count()
    assert n_salted == n_planted


def test_resample_grid_contiguous_and_bounded(spark, sf_smoke):
    """q99: each user's grid is exactly hourly and contiguous; linear
    interpolation can never leave the [min, max] envelope of that
    user's observed values; no grid point is left unfilled."""
    from datetime import datetime

    from pyspark.sql import functions as F2

    from hive_reflex_spark.io import read_table
    from hive_reflex_spark.operators.timeseries import (
        RESAMPLE_USERS,
        q99_resample_interpolate,
    )

    rows = q99_resample_interpolate(spark, sf_smoke).collect()
    assert rows
    env = {
        r["user_id"]: (r["lo"], r["hi"])
        for r in read_table(spark, sf_smoke, "events")
        .filter(F2.col("user_id") < RESAMPLE_USERS)
        .groupBy("user_id")
        .agg(F2.min("value").alias("lo"), F2.max("value").alias("hi"))
        .collect()
    }
    by_user = {}
    for r in rows:
        assert r["value_interp"] is not None, r
        lo, hi = env[r["user_id"]]
        assert lo - 1e-6 <= r["value_interp"] <= hi + 1e-6, r
        t = datetime.strptime(r["grid_ts"], "%Y-%m-%d %H:%M:%S")
        by_user.setdefault(r["user_id"], []).append(t)
    for uid, ts in by_user.items():
        ts.sort()
        assert all(
            (b - a).total_seconds() == 3600 for a, b in zip(ts, ts[1:])
        ), uid


def test_events_reader_normalizes_both_timestamp_vintages(spark, tmp_path):
    """io.read_table / streaming stream must yield plain TIMESTAMP `ts`
    for BOTH fixture vintages: TIMESTAMP(NANOS) (round-1 testdata) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ (round-2).
    Neither path may leave the nanos-as-long reader flag on the shared
    session."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_reflex_spark.streaming.ops import run_to_memory, stream_events

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    stamps = [base + datetime.timedelta(seconds=i) for i in range(4)]
    cols = {
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "user_id": pa.array([1, 1, 2, 2], pa.int64()),
        "event_type": pa.array(["a"] * 4),
        "value": pa.array([0.1, 0.2, 0.3, 0.4], pa.float64()),
        "props": pa.array(["{}"] * 4),
    }
    for unit in ("ns", "us"):
        d = tmp_path / f"vintage_{unit}"
        d.mkdir()
        tbl = pa.table(
            {**cols, "ts": pa.array(stamps, pa.timestamp(unit))}
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        want = [
            int(s.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
            for s in stamps
        ]
        batch = read_table(spark, str(d), "events")
        streamed = run_to_memory(stream_events(spark, str(d)), mode="append")
        for path, df in (("batch", batch), ("stream", streamed)):
            assert dict(df.dtypes)["ts"] == "timestamp", (unit, path)
            got = [
                r["us"]
                for r in df.select(
                    F.unix_micros("ts").alias("us")
                ).orderBy("us").collect()
            ]
            assert got == want, (unit, path)
        conf = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        assert conf is None, (unit, conf)


def test_log_shipping_replays_in_full_on_every_call(spark, sf_smoke, tmp_path):
    """Each call into the same out_dir replays the whole stream: the
    replay's checkpoint belongs to the call, not to the out_dir."""
    from hive_reflex_spark.streaming.ops import batched_log_shipping

    n_src = read_table(spark, sf_smoke, "events").count()
    for call in (1, 2):
        paths = batched_log_shipping(spark, sf_smoke, str(tmp_path))
        assert paths, call
        shipped = spark.read.json(paths)
        assert shipped.count() == n_src, call
        assert shipped.select("event_id").distinct().count() == n_src, call


def test_memory_sink_replays_leave_no_views(spark, sf_smoke):
    """q62 built three times registers no lasting memory-sink view, and
    each returned frame still reads the same rows after its view is
    dropped."""
    import __spark_entry__ as entrymod

    q62 = entrymod.queries()["q62_streaming_hourly"]
    frames = [q62(spark, sf_smoke) for _ in range(3)]
    views = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("hrs_mem_")
    ]
    assert views == []
    rows = [sorted(map(tuple, df.collect())) for df in frames]
    assert rows[0] and rows[0] == rows[1] == rows[2]


def test_resize_payload_matches_numpy_pooling(spark):
    """resize_payload == area mean-pooling oracle, including payloads
    shorter than the bucket count (buckets then cap at len(payload))."""
    from hive_reflex_spark.sources.multimodal import resize_payload

    payloads = [
        (1, bytes(range(64))),          # 4 bytes/bucket exactly
        (2, bytes(range(100))),         # uneven buckets
        (3, bytes([7, 9, 11])),         # shorter than n_buckets
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        (r.doc_id, r.bucket): r.mean_byte
        for r in resize_payload(df, n_buckets=16).collect()
    }
    for doc_id, payload in payloads:
        arr = np.frombuffer(payload, dtype=np.uint8).astype("int64")
        idx = (np.arange(len(arr)) * 16) // len(arr)
        for b in np.unique(idx):
            want = float(arr[idx == b].mean())
            assert abs(got[(doc_id, int(b))] - want) < 1e-12, (doc_id, b)
    # short payload emits only its non-empty buckets ({0,5,10} for len 3)
    assert sorted(b for (d, b) in got if d == 3) == [0, 5, 10]


def test_stream_countmin_matches_batch_grid(spark, sf_smoke):
    """q121: the stream-maintained CMS grid must equal the batch grid —
    complete-mode streaming aggregation is chunking-invariant."""
    import __spark_entry__ as entrymod
    from hive_reflex_spark.io import read_table
    from pyspark.sql import functions as F2

    streamed = {
        (r.j, r.bucket): r.cell
        for r in entrymod.queries()["q121_stream_countmin"](
            spark, sf_smoke
        ).collect()
    }
    ev = read_table(spark, sf_smoke, "events")
    batch = {
        (r.j, r.bucket): r.cell
        for r in ev.select(F2.col("user_id").cast("string").alias("u"))
        .select(F2.explode(F2.array(*[F2.lit(j) for j in range(4)])).alias("j"), "u")
        .select(
            "j",
            F2.expr(
                "instr('0123456789abcdef', substr(md5(j || ':' || u), 1, 1)) - 1"
            ).cast("int").alias("bucket"),
        )
        .groupBy("j", "bucket")
        .agg(F2.count("*").alias("cell"))
        .collect()
    }
    assert streamed == batch
    assert len(streamed) <= 64


def test_stream_left_outer_join_watermark_gates_nulls(spark):
    """q147: matches equal the batch inner join exactly; null rows equal
    the batch unmatched set RESTRICTED to errors older than the final
    watermark — i.e. the join withholds exactly the unmatched errors
    whose 24h window the watermark has not yet sealed."""
    import datetime

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE

    from hive_reflex_spark.io import read_table
    from hive_reflex_spark.streaming.ops import q147_stream_left_outer_join

    out = q147_stream_left_outer_join(spark, SF_SMOKE).cache()
    ev = read_table(spark, SF_SMOKE, "events")
    err = ev.filter("event_type = 'error'").select(
        F.col("event_id").alias("error_event_id"),
        "user_id",
        F.col("ts").alias("err_ts"),
    )
    clk = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("click_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("cu"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("click_ts") < F.col("err_ts"))
    )
    batch = err.join(clk, cond, "left_outer")

    matched_stream = {
        (r["error_event_id"], r["click_event_id"])
        for r in out.filter("click_event_id IS NOT NULL").collect()
    }
    matched_batch = {
        (r["error_event_id"], r["click_event_id"])
        for r in batch.filter("click_event_id IS NOT NULL").collect()
    }
    assert matched_stream == matched_batch

    mx_err = err.agg(F.max("err_ts")).first()[0]
    mx_clk = clk.agg(F.max("click_ts")).first()[0]
    w_final = min(mx_err, mx_clk) - datetime.timedelta(hours=1)
    nulls_stream = {
        r["error_event_id"] for r in out.filter("click_event_id IS NULL").collect()
    }
    nulls_batch_sealed = {
        r["error_event_id"]
        for r in batch.filter("click_event_id IS NULL")
        .filter(F.col("err_ts") < F.lit(w_final))
        .collect()
    }
    nulls_batch_all = {
        r["error_event_id"]
        for r in batch.filter("click_event_id IS NULL").collect()
    }
    assert nulls_stream == nulls_batch_sealed
    # the gate is real: at least one unmatched error sits inside the
    # unsealed window and must NOT have emitted
    assert nulls_batch_all - nulls_stream
    out.unpersist()


def test_media_dup_oracle_is_byte_true_on_non_ascii(spark, tmp_path):
    """q233's Spark path fingerprints UTF-8 BYTES; the oracle must walk
    the same bytes (hex-slice over encode(text)), not characters — on a
    non-ASCII corpus char length != byte length and code points != byte
    values (the r6 advisor's parity hole). Exact-dup docs (incl. a
    multibyte pair) must land in one family on BOTH engines."""
    import duckdb
    import pandas as pd

    from hive_reflex_spark.registry import ORACLES
    from hive_reflex_spark.sources.multimodal import q233_media_dup_families

    docs = [
        (1, "héllo wörld — ünïcode pâyload " * 8, "de", "web", 0),
        (2, "héllo wörld — ünïcode pâyload " * 8, "de", "web", 0),  # dup of 1
        (3, "plain ascii payload text here " * 8, "en", "web", 0),
        (4, "日本語のドキュメント本文です。" * 10, "ja", "web", 0),
        (5, "日本語のドキュメント本文です。" * 10, "ja", "web", 0),  # dup of 4
        (6, "another distinct ascii doc body " * 7, "en", "web", 0),
    ]
    pdf = pd.DataFrame(
        docs, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf["n_chars"] = pdf["text"].str.len()
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    got = (
        q233_media_dup_families(spark, str(tmp_path))
        .toPandas()
        .sort_values("sig_key")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = (
        con.execute(ORACLES["q233_media_dup_families"])
        .fetchdf()
        .sort_values("sig_key")
        .reset_index(drop=True)
    )
    assert list(got["sig_key"]) == list(want["sig_key"])
    for col in ("family_size", "keep_doc", "n_dropped"):
        assert [int(x) for x in got[col]] == [int(x) for x in want[col]], col
    fam = {int(r.keep_doc): int(r.family_size) for r in got.itertuples()}
    assert fam[1] == 2 and fam[4] == 2  # both dup pairs collapse
