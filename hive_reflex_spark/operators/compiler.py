"""Compiler-pass query shapes on the driver fixtures (SURVEY §3.1-3.2).

The pass *library* (plans/passes.py) operates on layer-IR tables; these
queries register the same algorithmic shapes — cost-partitioned islands,
aligned layout accumulation, liveness intervals — over the driver's
TPC-H-ish tables so the driver's DuckDB harness can hash-check them.
q80 closes the top of the funnel: a real .onnx file (parsed without the
onnx package) through the full fuse → partition → flash-layout chain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.io import read_table
from hive_reflex_spark.registry import query

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
TINY_ONNX = os.path.join(_REPO_ROOT, "tests", "fixtures", "tiny.onnx")


@query(
    "q59_cost_partition_islands",
    oracle="""
    SELECT l_orderkey, partition_id, target,
           COUNT(*) AS n_layers,
           CAST(SUM(CAST(cost_cpu AS BIGINT)) AS BIGINT) AS total_cost
    FROM (
        SELECT l_orderkey, target, cost_cpu,
               CAST(SUM(CASE WHEN target IS DISTINCT FROM prev_target
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY l_orderkey
                          ORDER BY l_linenumber, l_partkey, l_suppkey,
                                   l_extendedprice
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS partition_id
        FROM (
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   l_extendedprice,
                   CAST(ROUND(l_quantity * l_extendedprice) AS BIGINT)
                       AS cost_cpu,
                   CASE WHEN l_quantity >= 2 * (l_quantity / 32.0)
                             AND l_quantity > 25
                        THEN 'cim' ELSE 'cpu' END AS target,
                   lag(CASE WHEN l_quantity >= 2 * (l_quantity / 32.0)
                                 AND l_quantity > 25
                            THEN 'cim' ELSE 'cpu' END)
                       OVER (PARTITION BY l_orderkey
                             ORDER BY l_linenumber, l_partkey, l_suppkey,
                                      l_extendedprice)
                       AS prev_target
            FROM lineitem))
    GROUP BY l_orderkey, partition_id, target
    """,
)
def q59_cost_partition_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partitioner's 2x-speedup rule + greedy run-length grouping
    (`mlir_compiler/partitioner.py:63-107`, T4) with lineitems standing in
    for layers (order = model, linenumber = topological idx): assign a
    target per row by a cost comparison, then island consecutive
    same-target rows and roll up per-island cost."""
    li = read_table(spark, sf_dir, "lineitem")
    target = F.when(
        (F.col("l_quantity") >= 2 * (F.col("l_quantity") / 32.0))
        & (F.col("l_quantity") > 25),
        "cim",
    ).otherwise("cpu")
    # l_linenumber alone is NOT unique per order in this fixture — extend
    # the ordering to a unique key or island assignment is ambiguous.
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
        F.round(F.col("l_quantity") * F.col("l_extendedprice"))
        .cast("long")
        .alias("cost_cpu"),
        target.alias("target"),
    ).withColumn(
        "is_boundary",
        F.when(~F.col("target").eqNullSafe(F.lag("target").over(w)), 1).otherwise(
            0
        ),
    )
    islands = flagged.withColumn(
        "partition_id", F.sum("is_boundary").over(wcum).cast("long")
    )
    return islands.groupBy("l_orderkey", "partition_id", "target").agg(
        F.count("*").alias("n_layers"),
        F.sum("cost_cpu").alias("total_cost"),
    )


@query(
    "q80_onnx_compile",
    oracle="""
    WITH ir(model, idx, name, op_type, rows, cols, inputs, outputs,
            n_params) AS (
        VALUES
        ('tinynet', 0, 'mm1',   'MatMul', 64, 32,
         ['x','W1'],        ['h1'],  CAST(2048 AS BIGINT)),
        ('tinynet', 1, 'add1',  'Add',  CAST(NULL AS INTEGER),
         CAST(NULL AS INTEGER), ['h1','b1'], ['h1b'], CAST(32 AS BIGINT)),
        ('tinynet', 2, 'relu1', 'Relu', CAST(NULL AS INTEGER),
         CAST(NULL AS INTEGER), ['h1b'],     ['a1'],  CAST(0 AS BIGINT)),
        ('tinynet', 3, 'lstm1', 'LSTM', 128, 16,
         ['a1','Wl'],       ['s1'],  CAST(2048 AS BIGINT)),
        ('tinynet', 4, 'fc2',   'Gemm', 16, 10,
         ['s1','W2','b2'],  ['y'],   CAST(170 AS BIGINT))),
    pairs AS (
        SELECT a.model, a.idx, b.idx AS consumed_idx
        FROM ir a JOIN ir b
          ON a.model = b.model AND b.idx = a.idx + 1
         AND a.op_type = 'MatMul' AND b.op_type = 'Add'
         AND len(list_intersect(a.outputs, b.inputs)) > 0),
    fused AS (
        SELECT i.model, i.idx, i.name,
               CASE WHEN p.consumed_idx IS NOT NULL
                    THEN 'Gemm' ELSE i.op_type END AS op_type,
               i.rows, i.cols, i.n_params
        FROM ir i LEFT JOIN pairs p ON i.model = p.model AND i.idx = p.idx
        WHERE i.idx NOT IN (SELECT consumed_idx FROM pairs)),
    flagged AS (
        SELECT *,
               CASE WHEN op_type IN ('MatMul','Gemm','Conv','LSTM')
                         AND COALESCE(rows * cols, 0)
                             >= 2.0 * (COALESCE(rows * cols, 0) / 32.0)
                    THEN 'cim' ELSE 'cpu' END AS target,
               lag(CASE WHEN op_type IN ('MatMul','Gemm','Conv','LSTM')
                             AND COALESCE(rows * cols, 0)
                                 >= 2.0 * (COALESCE(rows * cols, 0) / 32.0)
                        THEN 'cim' ELSE 'cpu' END)
                   OVER (PARTITION BY model ORDER BY idx) AS prev_target
        FROM fused),
    islands AS (
        SELECT *,
               CAST(SUM(CASE WHEN target IS DISTINCT FROM prev_target
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY model ORDER BY idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS partition_id
        FROM flagged)
    SELECT model, idx, name, op_type, target, partition_id, n_params,
           CAST(COALESCE(rows * cols, 0) AS BIGINT) AS size_bytes,
           CAST(ceil(COALESCE(rows * cols, 0) / 256.0) * 256 AS BIGINT)
               AS aligned_bytes,
           CAST(COALESCE(SUM(CAST(ceil(COALESCE(rows * cols, 0) / 256.0) * 256
                             AS BIGINT))
                OVER (PARTITION BY model ORDER BY idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS flash_addr
    FROM islands
    """,
)
def q80_onnx_compile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end model compile (S1 → U4 → T4 → W11): a real ``.onnx``
    file — parsed from raw protobuf bytes, no onnx package
    (`tools/model_parser.py:48-98`, `codegen_cim.py:194-240`) — through
    fuse_matmul_add → partition_by_cost → flash_layout. The oracle pins
    the golden parse of the committed fixture as a VALUES table and
    re-implements the pass chain in independent SQL, so the driver
    hash-checks parser AND passes together. ``sf_dir`` is unused: the
    model is planner-scale input, not data-scale."""
    return _onnx_compile(spark, TINY_ONNX)


def _onnx_compile(spark: SparkSession, onnx_path: str) -> DataFrame:
    """The q80 chain shared by every model-zoo graph: parse the ``.onnx``
    file, then fuse_matmul_add → partition_by_cost → flash_layout."""
    from hive_reflex_spark.plans.passes import (
        flash_layout,
        fuse_matmul_add,
        partition_by_cost,
    )
    from hive_reflex_spark.sources.onnx_source import read_onnx_model

    ir = read_onnx_model(spark, onnx_path)
    laid = flash_layout(partition_by_cost(fuse_matmul_add(ir)))
    return laid.select(
        "model",
        "idx",
        "name",
        "op_type",
        "target",
        "partition_id",
        "n_params",
        "size_bytes",
        "aligned_bytes",
        "flash_addr",
    )


@query(
    "q60_flash_layout",
    oracle="""
    SELECT p_partkey, size_bytes, aligned_bytes,
           CAST(COALESCE(SUM(aligned_bytes)
                OVER (ORDER BY p_partkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS flash_addr
    FROM (SELECT p_partkey,
                 CAST(p_size AS BIGINT) * 1024 AS size_bytes,
                 CAST(ceil((p_size * 1024) / 256.0) * 256 AS BIGINT)
                     AS aligned_bytes
          FROM part)
    """,
)
def q60_flash_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative 256-B-aligned flash layout (W11, `tools/hive_compile.py:
    181-217`): aligned size + exclusive running sum as the base address,
    parts standing in for layer blobs."""
    part = read_table(spark, sf_dir, "part")
    size = F.col("p_size").cast("long") * 1024
    aligned = (F.ceil(size / 256.0) * 256).cast("long")
    w = Window.orderBy("p_partkey").rowsBetween(Window.unboundedPreceding, -1)
    return part.select(
        "p_partkey",
        size.alias("size_bytes"),
        aligned.alias("aligned_bytes"),
    ).withColumn(
        "flash_addr",
        F.coalesce(F.sum("aligned_bytes").over(w), F.lit(0)).cast("long"),
    )


@query(
    "q61_liveness",
    oracle="""
    SELECT user_id AS tensor_key,
           MIN(event_id) AS first_def,
           MAX(event_id) AS last_use,
           CAST(MAX(event_id) - MIN(event_id) AS BIGINT) AS live_range,
           COUNT(*) AS n_refs
    FROM events
    GROUP BY user_id
    """,
)
def q61_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liveness intervals (W9, `mlir_compiler/memory_planner.py:48-72`):
    per key, [first def, last use] over a reference stream — min/max
    grouped aggregate, the input to linear-scan buffer allocation."""
    events = read_table(spark, sf_dir, "events")
    return events.groupBy(F.col("user_id").alias("tensor_key")).agg(
        F.min("event_id").alias("first_def"),
        F.max("event_id").alias("last_use"),
        (F.max("event_id") - F.min("event_id")).alias("live_range"),
        F.count("*").alias("n_refs"),
    )


# q159: first-fit needs, at each step, the set of already-placed blocks.
# The oracle carries that set as a LIST<STRUCT> column in a scalar-state
# recursion (q136's discipline, with list state instead of an int):
# candidates are 0 plus the ends of lifetime-active blocks, and the offset
# is the smallest candidate colliding with nothing. The expression repeats
# because the recursive SELECT cannot reference its own `off` alias (it
# would resolve to the PREVIOUS row's column).
_ALLOC_OFF_EXPR = """
    list_aggregate(
      list_filter(
        [CAST(0 AS BIGINT)] || list_transform(
            list_filter(a.placed, p -> p.pl >= s.first_def), p -> p.pe),
        c -> len(list_filter(
            list_filter(a.placed, p -> p.pl >= s.first_def),
            p -> p.po < c + s.size_bytes AND p.pe > c)) = 0),
      'min')
"""

_ALLOC_ORACLE = f"""
    WITH RECURSIVE t AS (
        SELECT 'm' || CAST(user_id % 2 AS VARCHAR) AS model,
               't' || lpad(CAST(user_id AS VARCHAR), 3, '0') AS tensor,
               CAST(MIN(event_id) % 500 AS INTEGER) AS first_def,
               CAST(MIN(event_id) % 500 + user_id % 300 AS INTEGER)
                   AS last_use,
               CAST((user_id % 7 + 1) * 256 AS BIGINT) AS size_bytes
        FROM events WHERE user_id < 64 GROUP BY user_id),
    seq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY model
                   ORDER BY first_def, last_use, tensor) AS rn FROM t),
    alloc AS (
        SELECT model, 0 AS rn, CAST('' AS VARCHAR) AS tensor,
               0 AS first_def, 0 AS last_use, CAST(0 AS BIGINT) AS size_bytes,
               CAST(0 AS BIGINT) AS off,
               CAST([] AS STRUCT(po BIGINT, pe BIGINT, pl INTEGER)[]) AS placed
        FROM (SELECT DISTINCT model FROM seq)
        UNION ALL
        SELECT s.model, s.rn, s.tensor, s.first_def, s.last_use, s.size_bytes,
               {_ALLOC_OFF_EXPR} AS off,
               list_append(a.placed,
                   {{'po': {_ALLOC_OFF_EXPR},
                     'pe': {_ALLOC_OFF_EXPR} + s.size_bytes,
                     'pl': s.last_use}})
        FROM seq s JOIN alloc a ON s.model = a.model AND s.rn = a.rn + 1)
    SELECT model, tensor, first_def, last_use, size_bytes, off AS offset
    FROM alloc WHERE rn >= 1
"""


@query("q159_buffer_allocation", oracle=_ALLOC_ORACLE)
def q159_buffer_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 linear-scan first-fit buffer allocation driven end-to-end:
    per-user liveness windows (q61's min/max shape, wrapped mod 500 so
    lifetimes actually EXPIRE and slots get reused) feed
    `plans/passes.allocate_buffers` — tensors ordered by [first_def,
    last_use] take the lowest non-overlapping offset, replayed
    single-partition per model while models parallelize
    (`mlir_compiler/memory_planner.py:74-129`'s restart-on-collision
    first-fit; the single-pass fold is equivalent because the candidate
    is monotone over offset-sorted blocks)."""
    from hive_reflex_spark.plans.passes import allocate_buffers

    events = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 64)
    base = events.groupBy("user_id").agg(F.min("event_id").alias("mn"))
    t = base.select(
        F.concat(F.lit("m"), (F.col("user_id") % 2).cast("string")).alias(
            "model"
        ),
        F.concat(
            F.lit("t"), F.lpad(F.col("user_id").cast("string"), 3, "0")
        ).alias("tensor"),
        (F.col("mn") % 500).cast("int").alias("first_def"),
        ((F.col("mn") % 500) + (F.col("user_id") % 300))
        .cast("int")
        .alias("last_use"),
        ((F.col("user_id") % 7 + 1) * 256).cast("long").alias("size_bytes"),
    )
    live = t.select("model", "tensor", "first_def", "last_use")
    sizes = t.select("model", "tensor", "size_bytes")
    return allocate_buffers(live, sizes)


def _compile_chain_oracle(values_sql: str) -> str:
    """fuse → partition (incl. cpu-forced ops) → flash-layout replayed in
    SQL over a pinned golden-parse VALUES table."""
    return f"""
    WITH ir(model, idx, name, op_type, rows, cols, inputs, outputs,
            n_params) AS (
        VALUES
        {values_sql}),
    pairs AS (
        SELECT a.model, a.idx, b.idx AS consumed_idx
        FROM ir a JOIN ir b
          ON a.model = b.model AND b.idx = a.idx + 1
         AND a.op_type = 'MatMul' AND b.op_type = 'Add'
         AND len(list_intersect(a.outputs, b.inputs)) > 0),
    fused AS (
        SELECT i.model, i.idx, i.name,
               CASE WHEN p.consumed_idx IS NOT NULL
                    THEN 'Gemm' ELSE i.op_type END AS op_type,
               i.rows, i.cols, i.n_params
        FROM ir i LEFT JOIN pairs p ON i.model = p.model AND i.idx = p.idx
        WHERE i.idx NOT IN (SELECT consumed_idx FROM pairs)),
    flagged AS (
        SELECT *,
               CASE WHEN op_type IN ('Softmax','ReduceMean','Reshape',
                                     'Transpose') THEN 'cpu'
                    WHEN op_type IN ('MatMul','Gemm','Conv','LSTM')
                         AND COALESCE(rows * cols, 0)
                             >= 2.0 * (COALESCE(rows * cols, 0) / 32.0)
                    THEN 'cim' ELSE 'cpu' END AS target
        FROM fused),
    lagged AS (
        SELECT *,
               lag(target) OVER (PARTITION BY model ORDER BY idx)
                   AS prev_target
        FROM flagged),
    islands AS (
        SELECT *,
               CAST(SUM(CASE WHEN target IS DISTINCT FROM prev_target
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY model ORDER BY idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS partition_id
        FROM lagged)
    SELECT model, idx, name, op_type, target, partition_id, n_params,
           CAST(COALESCE(rows * cols, 0) AS BIGINT) AS size_bytes,
           CAST(ceil(COALESCE(rows * cols, 0) / 256.0) * 256 AS BIGINT)
               AS aligned_bytes,
           CAST(COALESCE(SUM(CAST(ceil(COALESCE(rows * cols, 0) / 256.0) * 256
                             AS BIGINT))
                OVER (PARTITION BY model ORDER BY idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS flash_addr
    FROM islands
    """


def _zoo(fn_name: str):
    """Call ``sources.model_zoo.<fn_name>()``. The import stays lazy:
    importing the sources package registers multimodal's queries, so
    hoisting it would move them in the registry order."""
    from hive_reflex_spark.sources import model_zoo

    return getattr(model_zoo, fn_name)()


def _zoo_oracle(model: str) -> str:
    return _compile_chain_oracle(_zoo(f"{model}_ir_values"))


@query("q80a_onnx_bert", oracle=_zoo_oracle("bert_tiny"))
def q80a_onnx_bert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q80 at transformer shape: a 17-node BERT-Tiny-like ONNX graph
    (structure per `model_zoo/export_bert_tiny.py:17-60` — embedding,
    two LayerNorms, full attention with transpose/scale/softmax, two
    MatMul+Add fusion sites, Gemm FFN, GELU, classifier) encoded to real
    protobuf bytes, parsed by the wire-format walker, and pushed through
    fuse_matmul_add → partition_by_cost → flash_layout. Exercises what
    the 5-node tinynet cannot: multiple fusion sites, cpu-forced ops
    (Transpose/Softmax), weightless MatMuls (attention scores/context),
    1-D-initializer-only layers (LayerNorm), and an embedding Gather."""
    return _onnx_compile(spark, _zoo("bert_tiny_onnx_path"))


@query("q80b_onnx_mobilenet", oracle=_zoo_oracle("mobilenet"))
def q80b_onnx_mobilenet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q80 at CNN shape: a 48-node MobileNetV1-like graph (structure per
    `model_zoo/export_mobilenet.py:5-56` — strided initial Conv, seven
    depthwise-separable blocks of grouped Conv3x3 / BatchNorm / ReLU /
    pointwise Conv1x1 / BatchNorm / ReLU, GlobalAveragePool, Reshape,
    Gemm head) through the same parse → fuse → partition → layout
    chain. Exercises the CNN side the transformer fixture cannot: Conv
    as the cim-eligible op, 4-D initializer shape extraction, the long
    alternating cim/cpu island sequence (15 partitions), and a
    Reshape in cpu-forced position."""
    return _onnx_compile(spark, _zoo("mobilenet_onnx_path"))


@query("q80c_onnx_micro_kws", oracle=_zoo_oracle("micro_kws"))
def q80c_onnx_micro_kws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q80 at audio-KWS shape: a 31-node DS-CNN-S graph (structure per
    `model_zoo/export_micro_kws.py:5-55` — strided 10x4 Conv over the
    49x10 MFCC map, four depthwise-separable blocks at constant 64
    channels, GlobalAveragePool, Reshape, Gemm to 12 keywords) through
    the same parse → fuse → partition → layout chain. Third model-zoo
    graph next to the transformer (q80a) and CNN (q80b): the
    non-square initial kernel and constant-width DS chain exercise a
    different fusion/partition profile."""
    return _onnx_compile(spark, _zoo("micro_kws_onnx_path"))


@query("q80d_onnx_gesture_net", oracle=_zoo_oracle("gesture_net"))
def q80d_onnx_gesture_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q80 at IMU-1D-CNN shape: the GestureNet graph
    (`model_zoo/export_gesture_net.py:4-41` — three Conv1d/BN/ReLU
    stages with MaxPool downsampling over the 6-axis IMU window, global
    average pool, two-layer Gemm head) through parse → fuse → partition
    → layout. Completes the model zoo's five architectures: 3-D Conv1d
    kernel shape extraction, weightless MaxPool in cpu-forced position,
    and a fusable two-layer classifier tail."""
    return _onnx_compile(spark, _zoo("gesture_net_onnx_path"))


# ---------------------------------------------------------------------------
# RTL pruning — hardware-config derivation from the model IR
# (mlir_compiler/rtl_pruner.py)
# ---------------------------------------------------------------------------

_BANK_KB = 32  # rtl_pruner.py:36 — 1 SRAM bank = 32 KB


def _both_models_ir_values() -> str:
    from hive_reflex_spark.sources.model_zoo import (
        bert_tiny_ir_values,
        mobilenet_ir_values,
    )

    return f"{bert_tiny_ir_values()},\n        {mobilenet_ir_values()}"


def _read_both_models(spark: SparkSession) -> DataFrame:
    from hive_reflex_spark.sources.model_zoo import (
        bert_tiny_onnx_path,
        mobilenet_onnx_path,
    )
    from hive_reflex_spark.sources.onnx_source import read_onnx_model

    return read_onnx_model(spark, bert_tiny_onnx_path()).unionByName(
        read_onnx_model(spark, mobilenet_onnx_path())
    )


def _peak_ctes() -> str:
    """Shared oracle CTE chain: parsed model IR -> liveness interval
    sweep -> per-model peak bytes (used by q137 and the config-sourced
    q216 twin)."""
    return f"""ir(model, idx, name, op_type, rows, cols, inputs, outputs,
            n_params) AS (VALUES {_both_models_ir_values()}),
    sized AS (SELECT *, 4 * COALESCE(CAST(rows AS BIGINT) * cols, 1)
                            AS size_bytes
              FROM ir),
    prod AS (SELECT model, idx AS start, unnest(outputs) AS tensor,
                    size_bytes
             FROM sized),
    cons AS (SELECT model, idx AS cidx, unnest(inputs) AS tensor FROM ir),
    life AS (SELECT p.model, p.tensor, p.start, p.size_bytes,
                    GREATEST(p.start, COALESCE(MAX(c.cidx), p.start))
                        AS fin
             FROM prod p LEFT JOIN cons c
               ON p.model = c.model AND p.tensor = c.tensor
             GROUP BY p.model, p.tensor, p.start, p.size_bytes),
    deltas AS (SELECT model, start AS pos, size_bytes AS delta FROM life
               UNION ALL
               SELECT model, fin + 1, -size_bytes FROM life),
    sweep AS (SELECT model, pos,
                     SUM(SUM(delta)) OVER (PARTITION BY model ORDER BY pos)
                         AS live_bytes
              FROM deltas GROUP BY model, pos),
    peak AS (SELECT model, CAST(MAX(live_bytes) AS BIGINT) AS peak_bytes
             FROM sweep GROUP BY model)"""


def _rtl_prune_oracle() -> str:
    return f"""
    WITH {_peak_ctes()},
    flags AS (SELECT model,
                     MAX(CASE WHEN op_type = 'Conv' THEN 1 ELSE 0 END)
                         AS has_conv,
                     MAX(CASE WHEN op_type IN ('Gemm', 'MatMul')
                              THEN 1 ELSE 0 END) AS has_fc,
                     MAX(CASE WHEN op_type IN
                              ('Softmax', 'LayerNormalization')
                              THEN 1 ELSE 0 END) AS has_transformer,
                     MAX(CASE WHEN op_type IN
                              ('Relu', 'Sigmoid', 'Tanh', 'Gelu')
                              THEN 1 ELSE 0 END) AS has_activation
              FROM ir GROUP BY model),
    banks AS (SELECT model, peak_bytes,
                     GREATEST(1, ((peak_bytes + 1023) // 1024
                                  + {_BANK_KB} - 1) // {_BANK_KB})
                         AS num_banks
              FROM peak),
    widths AS (SELECT CAST(r AS INTEGER) AS w FROM range(32) t(r)),
    cfg AS (SELECT b.model, b.peak_bytes, b.num_banks,
                   MIN(w.w) AS addr_width
            FROM banks b JOIN widths w
              ON CAST(POWER(2, w.w) AS BIGINT)
                 >= b.num_banks * {_BANK_KB} * 1024
            GROUP BY b.model, b.peak_bytes, b.num_banks)
    SELECT f.model,
           CAST(f.has_conv AS INTEGER) AS has_conv,
           CAST(f.has_fc AS INTEGER) AS has_fc,
           CAST(f.has_transformer AS INTEGER) AS has_transformer,
           CAST(f.has_activation AS INTEGER) AS has_activation,
           CAST(4 - f.has_conv - f.has_fc - f.has_transformer
                - f.has_activation AS INTEGER) AS n_pruned_engines,
           c.peak_bytes,
           CAST(c.num_banks AS INTEGER) AS sram_num_banks,
           CAST(c.addr_width AS INTEGER) AS sram_addr_width,
           CAST(c.num_banks * {_BANK_KB} AS INTEGER) AS total_sram_kb
    FROM flags f JOIN cfg c ON f.model = c.model
    """


def model_peak_bytes(spark: SparkSession) -> DataFrame:
    """(model, peak_bytes): the memory planner's liveness model
    (`memory_planner.py:48-72`) — each node's output lives from its
    producer index to its last consumer; peak via the interval-overlap
    sweep (+size at start, -size at end+1, running sum, max). One window
    per model over planner-scale rows; models parallelize."""
    ir = _read_both_models(spark)
    sized = ir.withColumn(
        "size_bytes",
        4 * F.coalesce(F.col("rows").cast("long") * F.col("cols"), F.lit(1)),
    )
    prod = sized.select(
        "model",
        F.col("idx").alias("start"),
        F.explode("outputs").alias("tensor"),
        "size_bytes",
    )
    cons = ir.select(
        "model", F.col("idx").alias("cidx"), F.explode("inputs").alias("tensor")
    )
    life = (
        prod.join(cons, ["model", "tensor"], "left")
        .groupBy("model", "tensor", "start", "size_bytes")
        .agg(
            F.greatest(
                F.col("start"), F.coalesce(F.max("cidx"), F.col("start"))
            ).alias("fin")
        )
    )
    deltas = life.select(
        "model", F.col("start").alias("pos"), F.col("size_bytes").alias("delta")
    ).unionByName(
        life.select(
            "model",
            (F.col("fin") + 1).alias("pos"),
            (-F.col("size_bytes")).alias("delta"),
        )
    )
    sweep = (
        deltas.groupBy("model", "pos")
        .agg(F.sum("delta").alias("d"))
        .withColumn(
            "live_bytes",
            F.sum("d").over(Window.partitionBy("model").orderBy("pos")),
        )
    )
    return sweep.groupBy("model").agg(
        F.max("live_bytes").cast("long").alias("peak_bytes")
    )


@query("q137_rtl_prune", oracle=_rtl_prune_oracle())
def q137_rtl_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTL pruning config (`mlir_compiler/rtl_pruner.py:13-49`): derive
    the SoC hardware configuration from the parsed model IR — engine
    enables (HAS_CONV / HAS_FC / HAS_TRANSFORMER / HAS_ACTIVATION from
    the op-type sets at :25-33; absent ops mean the engine is stripped
    from the RTL) and the SRAM sizing chain (peak bytes → ceil KB →
    32 KB banks, min 1 → address width = ceil(log2(total)), :36-48).

    Peak memory is the memory planner's liveness model
    (`memory_planner.py:48-72`): each node's output lives from its
    producer index to its last consumer, with the planner's
    "output size = layer size" simplification (:59) taken as the node's
    weight footprint (4-byte floats). The peak is the classic
    interval-overlap sweep — +size at start, -size at end+1, running
    sum, max — one window per model, all integers.

    Scale: per-model work is planner-scale (|nodes| rows); models
    parallelize. The address width joins a 32-row width table on an
    exact power-of-two compare instead of floating log2, so the hash
    matches on any libm. Both model-zoo graphs go through the REAL
    protobuf parser; the oracle re-derives the same rows from the spec."""
    ir = _read_both_models(spark)
    peak = model_peak_bytes(spark)
    flags = ir.groupBy("model").agg(
        F.max((F.col("op_type") == "Conv").cast("int")).alias("has_conv"),
        F.max(F.col("op_type").isin("Gemm", "MatMul").cast("int"))
        .alias("has_fc"),
        F.max(
            F.col("op_type").isin("Softmax", "LayerNormalization").cast("int")
        ).alias("has_transformer"),
        F.max(
            F.col("op_type").isin("Relu", "Sigmoid", "Tanh", "Gelu")
            .cast("int")
        ).alias("has_activation"),
    )
    banks = peak.withColumn(
        "num_banks",
        F.greatest(
            F.lit(1),
            (
                ((F.col("peak_bytes") + 1023) / 1024).cast("long")
                + _BANK_KB
                - 1
            ).cast("long")
            / _BANK_KB,
        ).cast("long"),
    )
    widths = spark.range(32).select(F.col("id").cast("int").alias("w"))
    cfg = (
        banks.join(
            F.broadcast(widths),
            F.pow(F.lit(2.0), F.col("w")).cast("long")
            >= F.col("num_banks") * _BANK_KB * 1024,
        )
        .groupBy("model", "peak_bytes", "num_banks")
        .agg(F.min("w").alias("addr_width"))
    )
    return flags.join(cfg, "model").select(
        "model",
        F.col("has_conv").cast("int"),
        F.col("has_fc").cast("int"),
        F.col("has_transformer").cast("int"),
        F.col("has_activation").cast("int"),
        (
            4
            - F.col("has_conv")
            - F.col("has_fc")
            - F.col("has_transformer")
            - F.col("has_activation")
        )
        .cast("int")
        .alias("n_pruned_engines"),
        "peak_bytes",
        F.col("num_banks").cast("int").alias("sram_num_banks"),
        F.col("addr_width").cast("int").alias("sram_addr_width"),
        (F.col("num_banks") * _BANK_KB).cast("int").alias("total_sram_kb"),
    )


# ---------------------------------------------------------------------------
# SRAM sizing under config profiles routed through the JSON config SOURCE
# (S7) — the bank-geometry knobs arrive as DATA, not Python constants
# ---------------------------------------------------------------------------

# the deterministic config fixture the query writes then reads back
# (rtl_pruner.py:36-48's bank geometry, swept across deployment profiles)
_BANK_PROFILES = [("small", 16), ("default", 32), ("large", 64)]


def _bank_profile_oracle() -> str:
    vals = ", ".join(f"('{p}', {kb})" for p, kb in _BANK_PROFILES)
    return f"""
    WITH {_peak_ctes()},
    cfg(profile, bank_kb) AS (VALUES {vals}),
    banks AS (SELECT model, peak_bytes, profile,
                     CAST(bank_kb AS BIGINT) AS bank_kb,
                     GREATEST(1, ((peak_bytes + 1023) // 1024
                                  + bank_kb - 1) // bank_kb) AS num_banks
              FROM peak CROSS JOIN cfg),
    widths AS (SELECT CAST(r AS INTEGER) AS w FROM range(32) t(r)),
    final AS (SELECT b.model, b.profile, b.bank_kb, b.peak_bytes,
                     b.num_banks, MIN(w.w) AS addr_width
              FROM banks b JOIN widths w
                ON CAST(POWER(2, w.w) AS BIGINT)
                   >= b.num_banks * b.bank_kb * 1024
              GROUP BY b.model, b.profile, b.bank_kb, b.peak_bytes,
                       b.num_banks)
    SELECT model, profile, CAST(bank_kb AS INTEGER) AS bank_kb, peak_bytes,
           CAST(num_banks AS INTEGER) AS sram_num_banks,
           CAST(addr_width AS INTEGER) AS sram_addr_width,
           CAST(num_banks * bank_kb AS INTEGER) AS total_sram_kb
    FROM final
    """


@query("q216_bank_profile_sizing", oracle=_bank_profile_oracle())
def q216_bank_profile_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q137's SRAM sizing chain with the bank geometry routed through the
    IO-config JSON SOURCE (S7, `mlir_compiler/rtl_pruner.py:36-48,50-60`):
    the query writes the deterministic deployment-profile config (small /
    default / large bank KB), reads it back via ``read_json_config``, and
    joins it into the sizing — peak bytes x profile -> ceil-KB banks,
    min 1, address width by exact power-of-two compare. Only a correct
    config READ hash-matches: the oracle re-derives the rows from the
    same profile values inline.

    Scale: config is a broadcast-sized dimension (rows = profiles); the
    fact side is planner-scale peaks. The cross join is models x
    profiles — both bounded; the config file is the single-digest
    deployment artifact every node reads once."""
    import json as _json

    from hive_reflex_spark.session import scratch_path
    from hive_reflex_spark.sources.sinks import read_json_config

    cfg_path = scratch_path("bank_profiles.json")
    with open(cfg_path, "w") as f:
        _json.dump(
            [{"profile": p, "bank_kb": kb} for p, kb in _BANK_PROFILES], f
        )
    cfg = read_json_config(spark, cfg_path).select(
        "profile", F.col("bank_kb").cast("long").alias("bank_kb")
    )
    peak = model_peak_bytes(spark)
    banks = peak.crossJoin(F.broadcast(cfg)).withColumn(
        "num_banks",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                (
                    F.floor((F.col("peak_bytes") + 1023) / 1024)
                    + F.col("bank_kb")
                    - 1
                )
                / F.col("bank_kb")
            ),
        ),
    )
    widths = spark.range(32).select(F.col("id").cast("int").alias("w"))
    sized = (
        banks.join(
            F.broadcast(widths),
            F.pow(F.lit(2.0), F.col("w")).cast("long")
            >= F.col("num_banks") * F.col("bank_kb") * 1024,
        )
        .groupBy("model", "profile", "bank_kb", "peak_bytes", "num_banks")
        .agg(F.min("w").alias("addr_width"))
    )
    return sized.select(
        "model",
        "profile",
        F.col("bank_kb").cast("int").alias("bank_kb"),
        "peak_bytes",
        F.col("num_banks").cast("int").alias("sram_num_banks"),
        F.col("addr_width").cast("int").alias("sram_addr_width"),
        (F.col("num_banks") * F.col("bank_kb"))
        .cast("int")
        .alias("total_sram_kb"),
    )


# ---------------------------------------------------------------------------
# Heterogeneous scheduler — ASAP/ALAP levels and critical path over the
# model DAG (imc22_sdk/scheduler.c task queue + the VSCode extension's
# "interactive scheduler visualization")
# ---------------------------------------------------------------------------


def _sched_levels_oracle() -> str:
    return f"""
    WITH RECURSIVE ir(model, idx, name, op_type, rows, cols, inputs,
                      outputs, n_params) AS (VALUES {_both_models_ir_values()}),
    prod AS (SELECT model, idx AS src, unnest(outputs) AS tensor FROM ir),
    cons AS (SELECT model, idx AS dst, unnest(inputs) AS tensor FROM ir),
    edges AS (SELECT DISTINCT p.model, p.src, c.dst
              FROM prod p JOIN cons c
                ON p.model = c.model AND p.tensor = c.tensor),
    fwd AS (SELECT model, idx, 0 AS lvl FROM ir i
            WHERE NOT EXISTS (SELECT 1 FROM edges e
                              WHERE e.model = i.model AND e.dst = i.idx)
            UNION ALL
            SELECT e.model, e.dst, f.lvl + 1
            FROM fwd f JOIN edges e
              ON e.model = f.model AND e.src = f.idx),
    asap AS (SELECT model, idx, MAX(lvl) AS asap
             FROM fwd GROUP BY model, idx),
    bwd AS (SELECT model, idx, 0 AS lvl FROM ir i
            WHERE NOT EXISTS (SELECT 1 FROM edges e
                              WHERE e.model = i.model AND e.src = i.idx)
            UNION ALL
            SELECT e.model, e.src, b.lvl + 1
            FROM bwd b JOIN edges e
              ON e.model = b.model AND e.dst = b.idx),
    dts AS (SELECT model, idx, MAX(lvl) AS d FROM bwd GROUP BY model, idx),
    crit AS (SELECT model, MAX(asap) AS t FROM asap GROUP BY model)
    SELECT i.model, i.idx, i.name,
           CAST(a.asap AS INTEGER) AS asap,
           CAST(crit.t - d.d AS INTEGER) AS alap,
           CAST(crit.t - d.d - a.asap AS INTEGER) AS slack,
           (crit.t - d.d - a.asap) = 0 AS is_critical
    FROM ir i
    JOIN asap a ON a.model = i.model AND a.idx = i.idx
    JOIN dts d ON d.model = i.model AND d.idx = i.idx
    JOIN crit ON crit.model = i.model
    """


def schedule_levels(ir: DataFrame) -> DataFrame:
    """ASAP/ALAP/slack levels for each node of a layer-IR DataFrame
    (``model, idx, name, inputs, outputs``): one Arrow batch per model
    replays the two longest-path sweeps; models parallelize across the
    cluster (the aggregate-then-replay discipline of q108/q136 — a
    compiled model's DAG is planner-scale even when the corpus isn't).
    ``idx`` must be a topological order, which ONNX graph order
    guarantees."""
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx").reset_index(drop=True)
        producer: dict[str, int] = {}
        for _, r in pdf.iterrows():
            for t in r["outputs"]:
                producer[t] = int(r["idx"])
        preds: dict[int, set[int]] = {int(i): set() for i in pdf["idx"]}
        succs: dict[int, set[int]] = {int(i): set() for i in pdf["idx"]}
        for _, r in pdf.iterrows():
            c = int(r["idx"])
            for t in r["inputs"]:
                p = producer.get(t)
                if p is not None and p != c:
                    preds[c].add(p)
                    succs[p].add(c)
        asap = {}
        for i in sorted(preds):  # spec order is topological
            asap[i] = max((asap[p] + 1 for p in preds[i]), default=0)
        dts = {}
        for i in sorted(succs, reverse=True):
            dts[i] = max((dts[s] + 1 for s in succs[i]), default=0)
        t = max(asap.values())
        out = pd.DataFrame(
            {
                "model": pdf["model"],
                "idx": pdf["idx"],
                "name": pdf["name"],
                "asap": [asap[int(i)] for i in pdf["idx"]],
                "alap": [t - dts[int(i)] for i in pdf["idx"]],
            }
        )
        out["slack"] = out["alap"] - out["asap"]
        out["is_critical"] = out["slack"] == 0
        return out

    return ir.select("model", "idx", "name", "inputs", "outputs").groupBy(
        "model"
    ).applyInPandas(
        fn,
        "model string, idx int, name string, asap int, alap int, "
        "slack int, is_critical boolean",
    )


@query("q138_schedule_levels", oracle=_sched_levels_oracle())
def q138_schedule_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduler levels over the model DAG: ASAP level (longest path
    from a source), ALAP level (critical-path length minus longest path
    to a sink), slack, and the critical path (slack 0) — the dependency
    analysis behind the reference's task-queue scheduler
    (`imc22_sdk/scheduler.c:27-43` ExecutionTask_t ordering) and the
    VSCode extension's scheduler visualization. Nodes on the same ASAP
    level are exactly the tasks the heterogeneous runtime may dispatch
    concurrently to CPU/CIM/DMA. In both model-zoo fixtures every
    fan-out re-merges behind the longer branch, so slack is 0
    throughout — the synthetic-diamond pytest exercises slack > 0.

    The oracle recomputes the levels by recursive path enumeration,
    which bounded node counts keep cheap."""
    return schedule_levels(_read_both_models(spark))

_SLICE_MAX_B = 8192
_SLICE_BPR = 400


@query(
    "q166_layer_slices",
    oracle=f"""
    WITH RECURSIVE layers AS (
        SELECT p_partkey AS pk, p_size * {_SLICE_BPR} AS b, p_size AS psize
        FROM part WHERE p_partkey < 512),
    normal AS (
        SELECT pk, b, ROW_NUMBER() OVER (ORDER BY pk) AS rn
        FROM layers WHERE b <= {_SLICE_MAX_B}),
    packrec AS (
        SELECT 0 AS rn, CAST(0 AS BIGINT) AS pk, CAST(0 AS BIGINT) AS b,
               CAST(0 AS BIGINT) AS used, 0 AS grp
        UNION ALL
        SELECT n.rn, n.pk, n.b,
               CASE WHEN p.used + n.b > {_SLICE_MAX_B} AND p.used > 0
                    THEN n.b ELSE p.used + n.b END,
               CASE WHEN p.used + n.b > {_SLICE_MAX_B} AND p.used > 0
                    THEN p.grp + 1 ELSE p.grp END
        FROM normal n JOIN packrec p ON n.rn = p.rn + 1),
    packed AS (
        SELECT pk, 0 AS part_idx, b AS chunk_bytes, 'pack' AS group_kind,
               grp AS group_seq
        FROM packrec WHERE rn >= 1),
    big AS (
        SELECT pk, psize, CAST({_SLICE_MAX_B} // {_SLICE_BPR} AS BIGINT)
                   AS max_rows
        FROM layers WHERE b > {_SLICE_MAX_B}),
    chunks AS (
        SELECT pk, CAST(c AS INT) AS part_idx,
               LEAST(max_rows, psize - c * max_rows) * {_SLICE_BPR}
                   AS chunk_bytes
        FROM big, LATERAL unnest(
            range(CAST(ceil(psize * 1.0 / max_rows) AS BIGINT))) AS t(c)),
    split AS (
        SELECT pk, part_idx, chunk_bytes, 'split' AS group_kind,
               CAST(ROW_NUMBER() OVER (ORDER BY pk, part_idx) - 1 AS INT)
                   AS group_seq
        FROM chunks)
    SELECT CAST(pk AS BIGINT) AS pk, CAST(part_idx AS INT) AS part_idx,
           CAST(chunk_bytes AS BIGINT) AS chunk_bytes, group_kind,
           CAST(group_seq AS INT) AS group_seq
    FROM packed
    UNION ALL
    SELECT CAST(pk AS BIGINT), CAST(part_idx AS INT),
           CAST(chunk_bytes AS BIGINT), group_kind, CAST(group_seq AS INT)
    FROM split
    """,
)
def q166_layer_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer slicing for CIM SRAM capacity (`tools/model_to_flash.py:
    160-250`): layers stream in key order into greedy ≤8 KiB slices —
    the current slice closes when the next layer would overflow it —
    while oversized layers bypass the accumulator entirely (the
    reference's `continue`) and split along rows into max_rows chunks,
    each its own slice. Splitting is a stateless sequence() explosion;
    the greedy accumulator is the inherently sequential part and runs as
    a single-partition Arrow replay over O(layers) planner-scale rows
    (q136's aggregate-then-replay discipline), with a scalar-state
    recursive-CTE oracle recomputing every slice boundary."""
    import pandas as pd

    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 512)
    layers = part.select(
        F.col("p_partkey").alias("pk"),
        (F.col("p_size") * _SLICE_BPR).cast("long").alias("b"),
        F.col("p_size").cast("long").alias("psize"),
    )
    max_rows = _SLICE_MAX_B // _SLICE_BPR

    big = layers.filter(F.col("b") > _SLICE_MAX_B)
    chunks = big.select(
        "pk",
        F.explode(
            F.sequence(F.lit(0), (F.ceil(F.col("psize") / max_rows) - 1))
        ).alias("c"),
        "psize",
    ).select(
        "pk",
        F.col("c").cast("int").alias("part_idx"),
        (
            F.least(F.lit(max_rows), F.col("psize") - F.col("c") * max_rows)
            * _SLICE_BPR
        ).alias("chunk_bytes"),
        F.lit("split").alias("group_kind"),
    )
    wsplit = Window.orderBy("pk", "part_idx")
    split = chunks.withColumn(
        "group_seq", (F.row_number().over(wsplit) - 1).cast("int")
    )

    normal = layers.filter(F.col("b") <= _SLICE_MAX_B).select("pk", "b")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pk").reset_index(drop=True)
        used = 0
        grp = 0
        seqs = []
        for b in pdf["b"]:
            if used + b > _SLICE_MAX_B and used > 0:
                grp += 1
                used = 0
            seqs.append(grp)
            used += b
        pdf["group_seq"] = seqs
        return pdf

    packed = (
        normal.groupBy(F.lit(0).alias("_g"))
        .applyInPandas(pack, "pk long, b long, group_seq int")
        .select(
            "pk",
            F.lit(0).cast("int").alias("part_idx"),
            F.col("b").alias("chunk_bytes"),
            F.lit("pack").alias("group_kind"),
            "group_seq",
        )
    )
    return packed.unionByName(split)
