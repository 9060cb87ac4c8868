"""Log-structured key-value compaction — the reference's NVS flash store
re-expressed as a relational MERGE/compaction plan.

The reference's NVS (`imc22_sdk/imc22_nvs.c`) is an append-only flash log
of packed items (`NVS_Item_t`: key, type, size, flags, crc32, data);
`NVS_Set` always appends a fresh record, `NVS_Delete` appends a tombstone
(`NVS_ITEM_FLAG_DELETED`), `NVS_Get` scans for the LAST valid record of a
key, and compaction rewrites the partition keeping only each key's latest
live value, reclaiming every superseded byte. That is exactly the
log-compaction / CDC-upsert shape a data platform runs constantly
(Kafka compacted topics, Delta/Hudi MERGE, RocksDB L0→L1): last-write-wins
per key with tombstone elimination.

Spark-first shape: ONE hash aggregate — ``groupBy(key).agg(max_by(...))``
— no window, no sort. ``max_by(struct, seq)`` gives the latest record
per key with map-side partial aggregation, so at 100 TB the log streams
through a single shuffle keyed by ``key`` and the reducers hold one
candidate record per key, not the key's whole history. (The window
``row_number() = 1`` formulation materializes and sorts every version of
a key on one task — strictly worse; it exists here only inside the
DuckDB oracle via ``arg_max``, which is the same aggregate.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_reflex_spark.functions import duck_exact_sum, exact_sum
from hive_reflex_spark.io import maybe_local_checkpoint, read_table
from hive_reflex_spark.registry import query

# events-table mapping to an NVS write log:
#   key       = event_type '/' user_id % KEY_MOD   (bounded key space)
#   seq       = event_id                            (append order — unique)
#   tombstone = value < TOMBSTONE_BELOW             (NVS_Delete records)
#   size      = ITEM_HEADER + octet_length(props)   (NVS_Item_t header +
#               flexible data[] payload, imc22_nvs.c:17-25)
KEY_MOD = 32
TOMBSTONE_BELOW = 10.0
ITEM_HEADER = 44  # key[32] + type(2) + size(2) + flags(2) + crc32(4) + pad


_LOG_CTE = f"""
    log AS (
        SELECT event_type || '/' || CAST(user_id % {KEY_MOD} AS VARCHAR)
                   AS key,
               event_id AS seq,
               value < {TOMBSTONE_BELOW!r} AS tombstone,
               {ITEM_HEADER} + strlen(props) AS item_bytes
        FROM events)"""


def _nvs_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events").select(
        F.concat_ws(
            "/", F.col("event_type"), (F.col("user_id") % KEY_MOD)
        ).alias("key"),
        F.col("event_id").alias("seq"),
        (F.col("value") < TOMBSTONE_BELOW).alias("tombstone"),
        (F.lit(ITEM_HEADER) + F.octet_length("props")).alias("item_bytes"),
    )


@query(
    "q135_nvs_compaction",
    oracle=f"""
    WITH {_LOG_CTE}
    SELECT key,
           COUNT(*) AS n_writes,
           CAST(SUM(CASE WHEN tombstone THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tombstones,
           MAX(seq) AS last_seq,
           NOT arg_max(tombstone, seq) AS live,
           CAST(CASE WHEN arg_max(tombstone, seq) THEN 0
                     ELSE arg_max(item_bytes, seq) END AS BIGINT)
               AS live_bytes,
           CAST(SUM(item_bytes)
                - CASE WHEN arg_max(tombstone, seq) THEN 0
                       ELSE arg_max(item_bytes, seq) END AS BIGINT)
               AS reclaimed_bytes
    FROM log
    GROUP BY key
    """,
)
def q135_nvs_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NVS log compaction (`imc22_sdk/imc22_nvs.c` Get/compaction
    semantics): treat events as the append-only item log, then one
    ``max_by``-per-key aggregate yields the post-compaction state — the
    latest record wins, a latest-tombstone key is dead, and every
    superseded byte counts as reclaimed. Single shuffle on ``key`` with
    map-side combine; output cardinality = |key space|."""
    log = _nvs_log(spark, sf_dir)
    last_tomb = F.max_by("tombstone", "seq")
    last_bytes = F.when(last_tomb, F.lit(0)).otherwise(
        F.max_by("item_bytes", "seq")
    )
    return log.groupBy("key").agg(
        F.count("*").alias("n_writes"),
        F.sum(F.col("tombstone").cast("int")).cast("long")
        .alias("n_tombstones"),
        F.max("seq").alias("last_seq"),
        (~last_tomb).alias("live"),
        last_bytes.cast("long").alias("live_bytes"),
        (F.sum("item_bytes") - last_bytes).cast("long")
        .alias("reclaimed_bytes"),
    )


# ---------------------------------------------------------------------------
# SCD2 versioned-dimension build from the same write log
# ---------------------------------------------------------------------------


@query(
    "q139_scd2_intervals",
    oracle=f"""
    WITH {_LOG_CTE}
    SELECT key, seq AS effective_from,
           lead(seq) OVER w - 1 AS effective_to,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_n,
           (lead(seq) OVER w IS NULL AND NOT tombstone) AS is_current,
           tombstone, item_bytes
    FROM log
    WINDOW w AS (PARTITION BY key ORDER BY seq)
    """,
)
def q139_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build over the NVS write log
    (q135's input): each append becomes a versioned row with a validity
    interval — ``effective_from`` = its sequence number,
    ``effective_to`` = the next write of the same key minus one (open
    for the head version), ``is_current`` only when it is the key's
    last write and not a tombstone. This is the point-in-time metadata
    layer a curation pipeline keeps next to the compacted state: q135
    answers "what is live now", this answers "what was live at seq N"
    (``WHERE s BETWEEN effective_from AND effective_to``).

    One window per key — per-key history is bounded while keys
    parallelize, the standard SCD2 merge shape at any corpus size."""
    log = _nvs_log(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("seq")
    nxt = F.lead("seq").over(w)
    return log.select(
        "key",
        F.col("seq").alias("effective_from"),
        (nxt - 1).alias("effective_to"),
        F.row_number().over(w).cast("long").alias("version_n"),
        (nxt.isNull() & ~F.col("tombstone")).alias("is_current"),
        "tombstone",
        F.col("item_bytes").cast("long").alias("item_bytes"),
    )

@query(
    "q168_bucketed_colocated_join",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {duck_exact_sum("o_totalprice")} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q168_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The physical-layout path driven end-to-end: orders and customer
    are WRITTEN bucketed+sorted by the join key (`functions/layout.
    bucket_write`, the engine's banked-scratchpad analog of
    `imc22_cim.c:174-193`), then joined via the catalog — with matching
    bucket counts the join plans with NO Exchange on either side (pinned
    in test_plan_shapes), which at 100 TB removes the dominant shuffle
    from every repeated fact join on that key. The oracle is the plain
    logical join: bucketing must change the PLAN, never the answer."""
    from hive_reflex_spark.functions.layout import bucket_write, colocated_join

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    bucket_write(orders, "hrs_q168_orders", "o_custkey", 8)
    bucket_write(cust, "hrs_q168_customer", "o_custkey", 8)
    joined = colocated_join(
        spark, "hrs_q168_orders", "hrs_q168_customer", "o_custkey"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice"), 2).alias("total_price"),
    )

def _z_expr(a: str, b: str, bits: int = 8) -> str:
    """Bit-interleave two ``bits``-wide ints into a Z-order key — plain
    shift/mask arithmetic that parses identically in Spark SQL and
    DuckDB."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@query(
    "q176_zorder_clustering",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey,
               CAST(o_custkey % 256 AS BIGINT) AS a,
               CAST(epoch(o_orderdate) // 86400 % 256 AS BIGINT) AS b
        FROM orders),
    z AS (SELECT o_orderkey, a, b,
                 CAST({_z_expr('a', 'b')} AS BIGINT) AS zkey
          FROM keyed)
    SELECT CAST(zkey >> 10 AS BIGINT) AS z_bucket,
           COUNT(*) AS n_rows,
           CAST(MIN(a) AS BIGINT) AS a_min, CAST(MAX(a) AS BIGINT) AS a_max,
           CAST(MIN(b) AS BIGINT) AS b_min, CAST(MAX(b) AS BIGINT) AS b_max,
           CAST(MAX(a) - MIN(a) AS BIGINT) AS a_span,
           CAST(MAX(b) - MIN(b) AS BIGINT) AS b_span
    FROM z GROUP BY zkey >> 10
    """,
)
def q176_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys (the lakehouse OPTIMIZE ZORDER technique):
    bit-interleave customer and order-day into one sort key, then report
    each top-6-bit Z bucket's row count and per-dimension value spans —
    every bucket covers a SMALL RECTANGLE in (customer, day) space, so a
    file laid out by zkey serves min/max skipping on BOTH dimensions at
    once, where a lexicographic (customer, day) sort serves only the
    leading one. Pure shift/mask column arithmetic, identical in both
    engines; at 100 TB the zkey feeds repartitionByRange + sortWithinPartitions
    at write time."""
    orders = read_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("long").alias("a"),
        (
            F.floor(F.unix_timestamp("o_orderdate") / 86400) % 256
        ).cast("long").alias("b"),
    )
    z = keyed.withColumn("zkey", F.expr(_z_expr("a", "b")).cast("long"))
    return z.groupBy(
        F.shiftright(F.col("zkey"), 10).cast("long").alias("z_bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("a").alias("a_min"),
        F.max("a").alias("a_max"),
        F.min("b").alias("b_min"),
        F.max("b").alias("b_max"),
        (F.max("a") - F.min("a")).alias("a_span"),
        (F.max("b") - F.min("b")).alias("b_span"),
    )

@query(
    "q180_snapshot_diff",
    oracle="""
    WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
    b AS (SELECT doc_id,
                 CASE WHEN doc_id % 89 = 0 THEN md5(text || ' rev2')
                      ELSE md5(text) END AS h
          FROM documents WHERE doc_id % 97 != 0
          UNION ALL
          SELECT doc_id + 1000000, md5(text || ' new')
          FROM documents WHERE doc_id % 101 = 0),
    d AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                 CASE WHEN b.doc_id IS NULL THEN 'removed'
                      WHEN a.doc_id IS NULL THEN 'added'
                      WHEN a.h != b.h THEN 'changed'
                      ELSE 'unchanged' END AS change
          FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT change, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM d GROUP BY change
    """,
)
def q180_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC change detection (the audit behind every
    Delta-style MERGE): two table versions compared by row-hash on the
    key — one FULL OUTER join classifies every key as added / removed /
    changed / unchanged, and per-class counts + id checksums make the
    diff verifiable without shipping rows. Snapshot B is derived
    deterministically from A (every 97th doc deleted, every 89th
    revised, every 101st re-keyed as a new arrival) so both engines
    reconstruct the same pair. At 100 TB both
    sides pre-reduce to (key, hash) before the join — the shuffle moves
    32-byte digests, not documents."""
    docs = read_table(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.md5("text").alias("h"))
    b = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 89 == 0,
            F.md5(F.concat(F.col("text"), F.lit(" rev2"))),
        )
        .otherwise(F.md5("text"))
        .alias("h"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 101 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.md5(F.concat(F.col("text"), F.lit(" new"))).alias("h"),
        )
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    change = (
        F.when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
    )
    d = j.select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        change.alias("change"),
    )
    return d.groupBy("change").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# Zone-map (min/max data-skipping) effectiveness audit
# ---------------------------------------------------------------------------

_ZM_ZONE_ROWS = 4096  # orders per zone ~ a parquet row group


@query(
    "q220_zonemap_pruning",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderdate,
               o_orderkey // {_ZM_ZONE_ROWS} AS z_arrival,
               CAST(epoch(o_orderdate) AS BIGINT) // 86400 // 92 AS z_clustered
        FROM orders),
    zones AS (
        SELECT 'arrival' AS layout, z_arrival AS z,
               MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM keyed GROUP BY 2
        UNION ALL
        SELECT 'date_clustered', z_clustered,
               MIN(o_orderdate), MAX(o_orderdate),
               CAST(COUNT(*) AS BIGINT)
        FROM keyed GROUP BY 2),
    tot AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_zones,
                   CAST(SUM(cnt) AS BIGINT) AS rows_total
            FROM zones GROUP BY layout),
    quarters AS (
        SELECT q0, q0 + INTERVAL 3 MONTH AS q1
        FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                            TIMESTAMP '2001-10-01',
                                            INTERVAL 3 MONTH)) AS q0)),
    scan AS (
        SELECT layout,
               CAST(year(q0) * 10 + quarter(q0) AS INT) AS quarter,
               CAST(COUNT(*) AS BIGINT) AS zones_scanned,
               CAST(SUM(cnt) AS BIGINT) AS rows_scanned
        FROM quarters JOIN zones
          ON dmax >= q0 AND dmin < q1
        GROUP BY 1, 2)
    SELECT s.layout, quarter, zones_scanned, rows_scanned, n_zones,
           rows_total,
           ROUND(1.0 - rows_scanned * 1.0 / rows_total, 6) AS prune_frac
    FROM scan s JOIN tot t ON s.layout = t.layout
    """,
)
def q220_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max skipping) effectiveness audit, measured as the
    CONTRAST between two physical layouts: 'arrival' zones are
    {_ZM_ZONE_ROWS}-orderkey ranges (how a parquet writer records
    row-group stats on naturally-arriving data), 'date_clustered' zones
    are 92-day date buckets (what a repartitionByRange(o_orderdate) +
    sortWithinPartitions rewrite produces). Every quarterly predicate
    replays against both zone maps; on the fixture's random date layout
    the arrival map prunes ~nothing while the clustered map skips all
    but ~1-2 zones per quarter — the measured number that justifies
    q176's Z-order/clustering rewrite, per predicate, instead of
    asserting it. The zone maps are one hash aggregate each over a
    single scan; the predicate replay is a 28-row broadcast
    nested-loop against the maps, never against the data."""
    orders = read_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderdate",
        F.floor(F.col("o_orderkey") / _ZM_ZONE_ROWS).alias("z_arrival"),
        F.floor(
            F.floor(F.unix_timestamp("o_orderdate") / 86400) / 92
        ).alias("z_clustered"),
    )

    def zmap(layout: str, zcol: str):
        return keyed.groupBy(F.col(zcol).alias("z")).agg(
            F.min("o_orderdate").alias("dmin"),
            F.max("o_orderdate").alias("dmax"),
            F.count("*").alias("cnt"),
        ).select(F.lit(layout).alias("layout"), "z", "dmin", "dmax", "cnt")

    zones = zmap("arrival", "z_arrival").unionByName(
        zmap("date_clustered", "z_clustered")
    )
    tot = zones.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_zones"),
        F.sum("cnt").cast("long").alias("rows_total"),
    )
    quarters = spark.sql(
        "SELECT q0, q0 + INTERVAL 3 MONTH AS q1 FROM (SELECT "
        "explode(sequence(TIMESTAMP '1995-01-01', "
        "TIMESTAMP '2001-10-01', INTERVAL 3 MONTH)) AS q0)"
    )
    scan = (
        zones.join(
            F.broadcast(quarters),
            (F.col("dmax") >= F.col("q0")) & (F.col("dmin") < F.col("q1")),
        )
        .groupBy(
            "layout",
            (F.year("q0") * 10 + F.quarter("q0")).cast("int").alias("quarter"),
        )
        .agg(
            F.count("*").alias("zones_scanned"),
            F.sum("cnt").cast("long").alias("rows_scanned"),
        )
    )
    return scan.join(F.broadcast(tot), "layout").select(
        "layout",
        "quarter",
        "zones_scanned",
        "rows_scanned",
        "n_zones",
        "rows_total",
        F.round(
            1.0 - F.col("rows_scanned") * 1.0 / F.col("rows_total"), 6
        ).alias("prune_frac"),
    )


# ---------------------------------------------------------------------------
# Changelog MERGE (CDC apply): last-writer-wins upsert/delete onto a
# snapshot — the lakehouse MERGE INTO semantics as one co-partitioned join
# ---------------------------------------------------------------------------

_MERGE_KEYSPACE = 2  # changelog touches ~1/2 of the snapshot keyspace


@query(
    "q222_changelog_merge",
    oracle=f"""
    WITH snap AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders),
    maxk AS (SELECT MAX(k) AS mk FROM snap),
    chg AS (
        SELECT event_id AS seq,
               (event_id * 7919) % (mk * {_MERGE_KEYSPACE}) AS k,
               CASE WHEN event_id % 5 = 0 THEN 'delete'
                    ELSE 'upsert' END AS op,
               CAST((event_id * 131) % 10000000 AS BIGINT) AS new_cents
        FROM events, maxk),
    last AS (
        SELECT k, arg_max(op, seq) AS op,
               arg_max(new_cents, seq) AS new_cents
        FROM chg GROUP BY k),
    merged AS (
        SELECT COALESCE(s.k, l.k) AS k,
               CASE WHEN l.k IS NULL THEN 'unchanged'
                    WHEN l.op = 'delete' AND s.k IS NOT NULL THEN 'deleted'
                    WHEN l.op = 'delete' THEN 'noop_delete'
                    WHEN s.k IS NULL THEN 'inserted'
                    ELSE 'updated' END AS action,
               CASE WHEN l.k IS NULL THEN s.price_cents
                    WHEN l.op = 'delete' THEN NULL
                    ELSE l.new_cents END AS final_cents
        FROM snap s FULL OUTER JOIN last l ON s.k = l.k)
    SELECT action, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COALESCE(SUM(final_cents), 0) AS BIGINT) AS total_cents
    FROM merged GROUP BY action
    """,
)
def q222_changelog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (CDC changelog apply) as one co-partitioned
    plan: a deterministic changelog derived from the event stream
    (upserts and deletes keyed into {_MERGE_KEYSPACE}x the snapshot
    keyspace so inserts, updates, deletes AND no-op deletes all occur)
    collapses to its last-writer-wins row per key (max_by on the
    sequence number — ONE hash aggregate, no window), then a single
    FULL OUTER join against the snapshot classifies every key:
    unchanged / updated / inserted / deleted / noop_delete. The report
    is the per-action audit a MERGE job emits plus the exact post-merge
    cents total per class.

    Scale: changelog and snapshot both shuffle once on the merge key
    and join co-partitioned — no broadcast (both sides are table-scale
    at 100 TB); the LWW collapse is map-side combinable. This is the
    batch-apply half of q139's SCD2 and q180's snapshot diff."""
    orders = read_table(spark, sf_dir, "orders")
    events = read_table(spark, sf_dir, "events")
    snap = orders.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "price_cents"
        ),
    )
    maxk = snap.agg(F.max("k").alias("mk"))
    chg = events.join(F.broadcast(maxk)).select(
        F.col("event_id").alias("seq"),
        ((F.col("event_id") * 7919) % (F.col("mk") * _MERGE_KEYSPACE)).alias(
            "k"
        ),
        F.when(F.col("event_id") % 5 == 0, "delete")
        .otherwise("upsert")
        .alias("op"),
        ((F.col("event_id") * 131) % 10_000_000).cast("long").alias(
            "new_cents"
        ),
    )
    last = chg.groupBy("k").agg(
        F.max_by("op", "seq").alias("op"),
        F.max_by("new_cents", "seq").alias("new_cents"),
    )
    s = snap.alias("s")
    l = last.alias("l")
    merged = s.join(l, F.col("s.k") == F.col("l.k"), "full_outer").select(
        F.when(F.col("l.k").isNull(), "unchanged")
        .when(
            (F.col("l.op") == "delete") & F.col("s.k").isNotNull(), "deleted"
        )
        .when(F.col("l.op") == "delete", "noop_delete")
        .when(F.col("s.k").isNull(), "inserted")
        .otherwise("updated")
        .alias("action"),
        F.when(F.col("l.k").isNull(), F.col("s.price_cents"))
        .when(F.col("l.op") == "delete", F.lit(None).cast("long"))
        .otherwise(F.col("l.new_cents"))
        .alias("final_cents"),
    )
    return merged.groupBy("action").agg(
        F.count("*").alias("n_keys"),
        F.coalesce(F.sum("final_cents"), F.lit(0))
        .cast("long")
        .alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Multi-column clustering: Z-order (Morton) vs single-column sort
# ---------------------------------------------------------------------------

_ZO_GRID = 16  # per-dimension bucket count (4 bits each -> 8-bit Morton code)
_ZO_CELLS_PER_ZONE = 4  # zorder zones = 4 consecutive Morton cells (64 zones)
_ZO_LINEAR_ZONES = 64  # date-sorted layout: 64 consecutive date ranges
_ZO_BOX_STARTS = (1, 5, 9, 13)  # replayed 2D boxes: 3x3-bucket squares


def _morton_sql(xb: str, yb: str, idiv: str) -> str:
    """8-bit Morton interleave of two 4-bit bucket ids, written with
    engine-portable arithmetic (``idiv`` = '//' for DuckDB, 'div' for
    Spark): bit 2i of z is bit i of x, bit 2i+1 is bit i of y."""
    terms = []
    for i in range(4):
        terms.append(f"(({xb} {idiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({yb} {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


_ZO_BOX_LIST = ", ".join(str(b) for b in _ZO_BOX_STARTS)


@query(
    "q236_zorder_layout",
    oracle=f"""
    WITH raw AS (SELECT o_custkey AS ck,
                        CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS days
                 FROM orders),
    bounds AS (SELECT MIN(ck) AS klo, MAX(ck) AS khi,
                      MIN(days) AS dlo, MAX(days) AS dhi
               FROM raw),
    bucketed AS (SELECT ck, days,
                        ((ck - klo) * {_ZO_GRID}) // (khi - klo + 1) AS xb,
                        ((days - dlo) * {_ZO_GRID}) // (dhi - dlo + 1) AS yb,
                        ((days - dlo) * {_ZO_LINEAR_ZONES})
                            // (dhi - dlo + 1) AS lin_zone
                 FROM raw, bounds),
    coded AS (SELECT ck, days, lin_zone,
                     ({_morton_sql("xb", "yb", "//")})
                         // {_ZO_CELLS_PER_ZONE} AS z_zone
              FROM bucketed),
    zones AS (
        SELECT 'date_sorted' AS layout, lin_zone AS z,
               MIN(ck) AS kmin, MAX(ck) AS kmax,
               MIN(days) AS dmin, MAX(days) AS dmax,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM coded GROUP BY 2
        UNION ALL
        SELECT 'zorder', z_zone, MIN(ck), MAX(ck), MIN(days), MAX(days),
               CAST(COUNT(*) AS BIGINT)
        FROM coded GROUP BY 2),
    tot AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_zones,
                   CAST(SUM(cnt) AS BIGINT) AS rows_total
            FROM zones GROUP BY layout),
    boxes AS (SELECT bi, bj,
                     klo + (bi * (khi - klo + 1)) // {_ZO_GRID} AS bklo,
                     klo + ((bi + 3) * (khi - klo + 1)) // {_ZO_GRID} - 1
                         AS bkhi,
                     dlo + (bj * (dhi - dlo + 1)) // {_ZO_GRID} AS bdlo,
                     dlo + ((bj + 3) * (dhi - dlo + 1)) // {_ZO_GRID} - 1
                         AS bdhi
              FROM (SELECT unnest([{_ZO_BOX_LIST}]) AS bi) a,
                   (SELECT unnest([{_ZO_BOX_LIST}]) AS bj) b, bounds),
    scan AS (SELECT layout,
                    CAST(COUNT(*) AS BIGINT) AS zones_scanned,
                    CAST(SUM(cnt) AS BIGINT) AS rows_scanned
             FROM boxes JOIN zones
               ON kmax >= bklo AND kmin <= bkhi
              AND dmax >= bdlo AND dmin <= bdhi
             GROUP BY layout)
    SELECT s.layout, n_zones, zones_scanned, rows_scanned, rows_total,
           ROUND(1.0 - rows_scanned * 1.0
                 / ({len(_ZO_BOX_STARTS) ** 2} * rows_total), 6)
               AS prune_frac
    FROM scan s JOIN tot t ON s.layout = t.layout
    ORDER BY s.layout
    """,
)
def q236_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering effectiveness — the multi-column extension of
    q220's zone-map audit and the measured case for OPTIMIZE ZORDER BY
    (Delta/Iceberg) over a plain sort: orders bucket into a 16x16
    (custkey, order-day) grid; the 'date_sorted' layout zones are 64
    consecutive date ranges (a single-column sort — each zone spans the
    FULL custkey range), the 'zorder' layout zones are 4-cell runs of
    the 8-bit Morton code (bit-interleaved buckets — each zone is a
    compact 2x2-bucket square, tight min/max on BOTH dims). Sixteen
    3x3-bucket 2D boxes replay against both zone maps; a zone is
    scanned when its min/max rectangle intersects the box. The
    single-column layout prunes only on the date dim, so 2D predicates
    scan ~3/16 of the table; the Morton layout prunes on both dims at
    once. prune_frac = 1 - scanned/(boxes * total).

    Scale (100 TB): zone maps are ONE hash aggregate per layout over a
    single scan (the Morton code is pure per-row arithmetic — no sort is
    materialized to AUDIT the layout, exactly like q220); the box replay
    is a 16-row broadcast nested-loop against <=128 zone-stat rows. The
    audited rewrite itself would be repartitionByRange(z) +
    sortWithinPartitions(z) — zero driver state at any scale."""
    orders = read_table(spark, sf_dir, "orders")
    raw = orders.select(
        F.col("o_custkey").alias("ck"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400).alias("days"),
    )
    # 1-row bounds, referenced by the bucketing AND the box replay —
    # materialized so the min/max scan runs once (r12, guide §3.3/§5)
    bounds = maybe_local_checkpoint(
        raw.agg(
            F.min("ck").alias("klo"),
            F.max("ck").alias("khi"),
            F.min("days").alias("dlo"),
            F.max("days").alias("dhi"),
        )
    )
    bucketed = raw.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "days",
        F.expr(f"((ck - klo) * {_ZO_GRID}) div (khi - klo + 1)").alias("xb"),
        F.expr(f"((days - dlo) * {_ZO_GRID}) div (dhi - dlo + 1)").alias(
            "yb"
        ),
        F.expr(
            f"((days - dlo) * {_ZO_LINEAR_ZONES}) div (dhi - dlo + 1)"
        ).alias("lin_zone"),
    )
    coded = bucketed.select(
        "ck",
        "days",
        "lin_zone",
        F.expr(
            f"({_morton_sql('xb', 'yb', 'div')}) div {_ZO_CELLS_PER_ZONE}"
        ).alias("z_zone"),
    )

    # both layouts' zone maps in ONE corpus pass: each row contributes
    # its (layout, zone) membership twice via a 2-row explode — the
    # q244 explode-array form of the union; grouped rows are identical
    # to the former per-layout aggregates. The <=128-row result is
    # materialized (referenced by totals AND the box replay); the r11
    # shape evaluated the two-scan union twice more (r12, guide §2.4)
    zones = maybe_local_checkpoint(
        coded.select(
            "ck",
            "days",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("date_sorted").alias("layout"),
                        F.col("lin_zone").alias("z"),
                    ),
                    F.struct(
                        F.lit("zorder").alias("layout"),
                        F.col("z_zone").alias("z"),
                    ),
                )
            ).alias("lz"),
        )
        .select("ck", "days", F.col("lz.layout").alias("layout"),
                F.col("lz.z").alias("z"))
        .groupBy("layout", "z")
        .agg(
            F.min("ck").alias("kmin"),
            F.max("ck").alias("kmax"),
            F.min("days").alias("dmin"),
            F.max("days").alias("dmax"),
            F.count("*").alias("cnt"),
        )
        .select("layout", "z", "kmin", "kmax", "dmin", "dmax", "cnt")
    )
    tot = zones.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_zones"),
        F.sum("cnt").cast("long").alias("rows_total"),
    )
    starts = ", ".join(str(b) for b in _ZO_BOX_STARTS)
    boxes = (
        spark.sql(
            f"SELECT bi, bj FROM (SELECT explode(array({starts})) AS bi) "
            f"CROSS JOIN (SELECT explode(array({starts})) AS bj)"
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            F.expr(f"klo + (bi * (khi - klo + 1)) div {_ZO_GRID}").alias(
                "bklo"
            ),
            F.expr(
                f"klo + ((bi + 3) * (khi - klo + 1)) div {_ZO_GRID} - 1"
            ).alias("bkhi"),
            F.expr(f"dlo + (bj * (dhi - dlo + 1)) div {_ZO_GRID}").alias(
                "bdlo"
            ),
            F.expr(
                f"dlo + ((bj + 3) * (dhi - dlo + 1)) div {_ZO_GRID} - 1"
            ).alias("bdhi"),
        )
    )
    scan = (
        zones.join(
            F.broadcast(boxes),
            (F.col("kmax") >= F.col("bklo"))
            & (F.col("kmin") <= F.col("bkhi"))
            & (F.col("dmax") >= F.col("bdlo"))
            & (F.col("dmin") <= F.col("bdhi")),
        )
        .groupBy("layout")
        .agg(
            F.count("*").alias("zones_scanned"),
            F.sum("cnt").cast("long").alias("rows_scanned"),
        )
    )
    n_boxes = len(_ZO_BOX_STARTS) ** 2
    return (
        scan.join(F.broadcast(tot), "layout")
        .select(
            "layout",
            "n_zones",
            "zones_scanned",
            "rows_scanned",
            "rows_total",
            F.round(
                1.0
                - F.col("rows_scanned")
                * 1.0
                / (n_boxes * F.col("rows_total")),
                6,
            ).alias("prune_frac"),
        )
        .orderBy("layout")
    )
