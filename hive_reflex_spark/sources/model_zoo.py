"""Structural model-zoo fixtures: deterministic multi-layer ONNX graphs
built byte-by-byte with the protobuf wire format (no onnx package),
mirroring the reference's exports.

BERT_TINY mirrors `model_zoo/export_bert_tiny.py:17-60` — embedding →
LayerNorm → attention (qkv proj, Q·Kᵀ scores w/ transpose+scale, softmax,
context, out proj) with residuals → LayerNorm → Gemm FFN → GELU →
classifier head. The graph patterns it exists to exercise are the ones
the reference compiler handles specially: MatMul→Add fusion adjacency
(`mlir_compiler/optimizer.py:126-171`), LayerNormalization/RMSNorm
ingestion (`transformer_ops.py:36-39`), Softmax/Transpose cpu-forcing
(`partitioner.py:16-19`), weight-shape extraction from initializers
(`tools/model_parser.py:75-88`).

The spec below is the single source of truth: `write_bert_tiny` encodes
it to ONNX bytes for the parser, and `bert_tiny_ir_values` re-derives
the expected layer-IR rows with independent plain-Python logic for the
q80a oracle's VALUES table.
"""

from __future__ import annotations

from hive_reflex_spark.session import scratch_path

# --------------------------------------------------------------------------
# Minimal protobuf wire-format encoder (twin of onnx_source's decoder)
# --------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = b""
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out += bytes([b | 0x80])
        else:
            return out + bytes([b])


def _tag(field: int, wtype: int) -> bytes:
    return _varint((field << 3) | wtype)


def _ld(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _s(field: int, text: str) -> bytes:
    return _ld(field, text.encode())


def _vi(field: int, n: int) -> bytes:
    return _tag(field, 0) + _varint(n)


def _tensor(name: str, dims: list[int], seed: int) -> bytes:
    """TensorProto: dims=1, data_type=2 (FLOAT), name=8, raw_data=9."""
    n = 1
    for d in dims:
        n *= d
    raw = bytes((seed + i) % 251 for i in range(4 * n))
    out = b"".join(_vi(1, d) for d in dims)
    return out + _vi(2, 1) + _s(8, name) + _ld(9, raw)


def _attr_int(name: str, value: int) -> bytes:
    return _s(1, name) + _vi(3, value) + _vi(20, 2)


def _node(
    name: str,
    op_type: str,
    inputs: list[str],
    outputs: list[str],
    attrs: bytes = b"",
) -> bytes:
    out = b"".join(_s(1, i) for i in inputs)
    out += b"".join(_s(2, o) for o in outputs)
    out += _s(3, name) + _s(4, op_type)
    if attrs:
        out += _ld(5, attrs)
    return out


# --------------------------------------------------------------------------
# BERT-Tiny spec (embed_dim 64, 4 heads, vocab 128)
# --------------------------------------------------------------------------

# (name, op_type, inputs, outputs, {int attrs})
BERT_TINY_NODES: list[tuple] = [
    ("embed", "Gather", ["emb_table", "x"], ["h0"], {}),
    ("norm1", "LayerNormalization", ["h0", "ln1_g", "ln1_b"], ["h1"], {}),
    ("qkv", "MatMul", ["h1", "Wqkv"], ["qkv0"], {}),
    ("qkv_bias", "Add", ["qkv0", "bqkv"], ["qkvb"], {}),
    ("transpose_k", "Transpose", ["qkvb"], ["kT"], {}),
    ("scores", "MatMul", ["qkvb", "kT"], ["sc"], {}),
    ("scale", "Div", ["sc", "inv_sqrt_d"], ["scd"], {}),
    ("softmax", "Softmax", ["scd"], ["attn"], {"axis": 3}),
    ("ctx", "MatMul", ["attn", "qkvb"], ["ctx"], {}),
    ("out_proj", "MatMul", ["ctx", "Wo"], ["op0"], {}),
    ("out_bias", "Add", ["op0", "bo"], ["opb"], {}),
    ("resid1", "Add", ["opb", "h1"], ["r1"], {}),
    ("norm2", "LayerNormalization", ["r1", "ln2_g", "ln2_b"], ["h2"], {}),
    ("fc", "Gemm", ["h2", "Wfc", "bfc"], ["f1"], {}),
    ("gelu", "Gelu", ["f1"], ["g1"], {}),
    ("resid2", "Add", ["g1", "r1"], ["r2"], {}),
    ("cls", "MatMul", ["r2", "Wcls"], ["logits"], {}),
]

BERT_TINY_INITS: dict[str, list[int]] = {
    "emb_table": [128, 64],
    "ln1_g": [64],
    "ln1_b": [64],
    "Wqkv": [64, 192],
    "bqkv": [192],
    "inv_sqrt_d": [1],
    "Wo": [64, 64],
    "bo": [64],
    "ln2_g": [64],
    "ln2_b": [64],
    "Wfc": [64, 64],
    "bfc": [64],
    "Wcls": [64, 10],
}

BERT_TINY_NAME = "bert_tiny"


def write_model(path: str, name: str, spec_nodes: list, inits: dict) -> str:
    """Encode a (nodes, initializers) spec as an ONNX ModelProto."""
    nodes = []
    for nname, op, ins, outs, attrs in spec_nodes:
        ab = b"".join(_attr_int(k, v) for k, v in attrs.items())
        nodes.append(_node(nname, op, ins, outs, ab))
    tensors = [
        _tensor(tname, dims, seed * 7 + 3)
        for seed, (tname, dims) in enumerate(inits.items())
    ]
    graph = (
        b"".join(_ld(1, n) for n in nodes)
        + _s(2, name)
        + b"".join(_ld(5, t) for t in tensors)
    )
    model = _vi(1, 8) + _ld(7, graph)  # ir_version=8, graph=7
    with open(path, "wb") as f:
        f.write(model)
    return path


def _model_onnx_path(name: str, spec_nodes: list, inits: dict) -> str:
    """Write the fixture into scratch and return its path. Always
    rewritten — the bytes are deterministic and cheap, and an
    unconditional write means the file always encodes the current spec."""
    path = scratch_path(f"{name}.onnx")
    write_model(path, name, spec_nodes, inits)
    return path


def ir_values(name: str, spec_nodes: list, inits: dict) -> str:
    """The expected parse as a DuckDB VALUES list (model, idx, name,
    op_type, rows, cols, inputs, outputs, n_params) — derived from the
    spec with the extraction rules of `tools/model_parser.py:75-88`
    stated independently: (rows, cols) = last two dims of the first
    >=2-D initializer input; n_params = total elements over all
    initializer inputs."""
    rows_sql = []
    for idx, (nname, op, ins, outs, _attrs) in enumerate(spec_nodes):
        wdims: list[int] = []
        n_params = 0
        for i in ins:
            dims = inits.get(i)
            if dims is None:
                continue
            n = 1
            for d in dims:
                n *= d
            n_params += n
            if not wdims and len(dims) >= 2:
                wdims = dims
        r = str(wdims[-2]) if wdims else "CAST(NULL AS INTEGER)"
        c = str(wdims[-1]) if wdims else "CAST(NULL AS INTEGER)"
        ins_sql = "[" + ",".join(f"'{i}'" for i in ins) + "]"
        outs_sql = "[" + ",".join(f"'{o}'" for o in outs) + "]"
        rows_sql.append(
            f"('{name}', {idx}, '{nname}', '{op}', {r}, {c}, "
            f"{ins_sql}, {outs_sql}, CAST({n_params} AS BIGINT))"
        )
    return ",\n        ".join(rows_sql)


def bert_tiny_onnx_path() -> str:
    return _model_onnx_path(BERT_TINY_NAME, BERT_TINY_NODES, BERT_TINY_INITS)


def bert_tiny_ir_values() -> str:
    return ir_values(BERT_TINY_NAME, BERT_TINY_NODES, BERT_TINY_INITS)


# --------------------------------------------------------------------------
# MobileNetV1 spec (`model_zoo/export_mobilenet.py:5-56`): initial Conv →
# 7 depthwise-separable blocks (DW Conv3x3 grouped / BN / ReLU / PW Conv1x1
# / BN / ReLU) → GlobalAveragePool → Reshape → Gemm classifier.
# --------------------------------------------------------------------------


def _mobilenet_spec() -> tuple[list, dict]:
    nodes: list[tuple] = []
    inits: dict[str, list[int]] = {}
    prev = "x"

    def bn(tag: str, ch: int, src: str) -> str:
        for suf, dims in (("g", [ch]), ("b", [ch]), ("m", [ch]), ("v", [ch])):
            inits[f"{tag}_{suf}"] = dims
        nodes.append(
            (tag, "BatchNormalization",
             [src, f"{tag}_g", f"{tag}_b", f"{tag}_m", f"{tag}_v"],
             [f"{tag}_out"], {})
        )
        return f"{tag}_out"

    def relu(tag: str, src: str) -> str:
        nodes.append((tag, "Relu", [src], [f"{tag}_out"], {}))
        return f"{tag}_out"

    # initial strided conv: 1 -> 32 channels
    inits["conv0_w"] = [32, 1, 3, 3]
    nodes.append(("conv0", "Conv", [prev, "conv0_w"], ["c0"],
                  {"group": 1, "strides": 2}))
    prev = relu("relu0", bn("bn0", 32, "c0"))

    blocks = [(32, 64, 1), (64, 128, 2), (128, 128, 1), (128, 256, 2),
              (256, 256, 1), (256, 512, 2), (512, 512, 1)]
    for i, (cin, cout, stride) in enumerate(blocks):
        dw = f"dw{i}"
        inits[f"{dw}_w"] = [cin, 1, 3, 3]
        nodes.append((dw, "Conv", [prev, f"{dw}_w"], [f"{dw}_c"],
                      {"group": cin, "strides": stride}))
        prev = relu(f"{dw}_relu", bn(f"{dw}_bn", cin, f"{dw}_c"))
        pw = f"pw{i}"
        inits[f"{pw}_w"] = [cout, cin, 1, 1]
        nodes.append((pw, "Conv", [prev, f"{pw}_w"], [f"{pw}_c"],
                      {"group": 1}))
        prev = relu(f"{pw}_relu", bn(f"{pw}_bn", cout, f"{pw}_c"))

    nodes.append(("gap", "GlobalAveragePool", [prev], ["gap_out"], {}))
    inits["flat_shape"] = [2]
    nodes.append(("flatten", "Reshape", ["gap_out", "flat_shape"],
                  ["flat"], {}))
    inits["cls_w"] = [512, 10]
    inits["cls_b"] = [10]
    nodes.append(("cls", "Gemm", ["flat", "cls_w", "cls_b"],
                  ["logits"], {}))
    return nodes, inits


MOBILENET_NODES, MOBILENET_INITS = _mobilenet_spec()
MOBILENET_NAME = "mobilenet_v1"


def mobilenet_onnx_path() -> str:
    return _model_onnx_path(MOBILENET_NAME, MOBILENET_NODES, MOBILENET_INITS)


def mobilenet_ir_values() -> str:
    return ir_values(MOBILENET_NAME, MOBILENET_NODES, MOBILENET_INITS)

# --------------------------------------------------------------------------
# MicroKWS spec (`model_zoo/export_micro_kws.py:5-55`): DS-CNN-S keyword
# spotting (Hello Edge / MLPerf Tiny) — strided initial Conv(10x4) over the
# 49x10 MFCC map, FOUR depthwise-separable blocks at constant 64 channels,
# GlobalAveragePool, Reshape, Gemm head to the 12 keyword classes.
# --------------------------------------------------------------------------


def _micro_kws_spec() -> tuple[list, dict]:
    nodes: list[tuple] = []
    inits: dict[str, list[int]] = {}

    def bn(tag: str, ch: int, src: str) -> str:
        for suf, dims in (("g", [ch]), ("b", [ch]), ("m", [ch]), ("v", [ch])):
            inits[f"{tag}_{suf}"] = dims
        nodes.append(
            (tag, "BatchNormalization",
             [src, f"{tag}_g", f"{tag}_b", f"{tag}_m", f"{tag}_v"],
             [f"{tag}_out"], {})
        )
        return f"{tag}_out"

    def relu(tag: str, src: str) -> str:
        nodes.append((tag, "Relu", [src], [f"{tag}_out"], {}))
        return f"{tag}_out"

    # initial 10x4 strided conv over the 1-channel MFCC map: 1 -> 64
    inits["conv1_w"] = [64, 1, 10, 4]
    nodes.append(("conv1", "Conv", ["x", "conv1_w"], ["c1"],
                  {"group": 1, "strides": 2}))
    prev = relu("relu1", bn("bn1", 64, "c1"))

    for i in range(4):  # four DS blocks, constant 64 channels, stride 1
        dw = f"dw{i}"
        inits[f"{dw}_w"] = [64, 1, 3, 3]
        nodes.append((dw, "Conv", [prev, f"{dw}_w"], [f"{dw}_c"],
                      {"group": 64, "strides": 1}))
        prev = relu(f"{dw}_relu", bn(f"{dw}_bn", 64, f"{dw}_c"))
        pw = f"pw{i}"
        inits[f"{pw}_w"] = [64, 64, 1, 1]
        nodes.append((pw, "Conv", [prev, f"{pw}_w"], [f"{pw}_c"],
                      {"group": 1}))
        prev = relu(f"{pw}_relu", bn(f"{pw}_bn", 64, f"{pw}_c"))

    nodes.append(("avg_pool", "GlobalAveragePool", [prev], ["gap_out"], {}))
    inits["flat_shape"] = [2]
    nodes.append(("flatten", "Reshape", ["gap_out", "flat_shape"],
                  ["flat"], {}))
    inits["fc_w"] = [64, 12]
    inits["fc_b"] = [12]
    nodes.append(("fc", "Gemm", ["flat", "fc_w", "fc_b"], ["logits"], {}))
    return nodes, inits


MICRO_KWS_NODES, MICRO_KWS_INITS = _micro_kws_spec()
MICRO_KWS_NAME = "micro_kws"


def micro_kws_onnx_path() -> str:
    return _model_onnx_path(MICRO_KWS_NAME, MICRO_KWS_NODES, MICRO_KWS_INITS)


def micro_kws_ir_values() -> str:
    return ir_values(MICRO_KWS_NAME, MICRO_KWS_NODES, MICRO_KWS_INITS)

# --------------------------------------------------------------------------
# GestureNet spec (`model_zoo/export_gesture_net.py:4-41`): 1-D CNN over the
# 6-axis IMU window — three Conv1d/BN/ReLU stages with MaxPool downsampling,
# global average pool, two-layer Gemm classifier head.
# --------------------------------------------------------------------------


def _gesture_net_spec() -> tuple[list, dict]:
    nodes: list[tuple] = []
    inits: dict[str, list[int]] = {}

    def bn(tag: str, ch: int, src: str) -> str:
        for suf, dims in (("g", [ch]), ("b", [ch]), ("m", [ch]), ("v", [ch])):
            inits[f"{tag}_{suf}"] = dims
        nodes.append(
            (tag, "BatchNormalization",
             [src, f"{tag}_g", f"{tag}_b", f"{tag}_m", f"{tag}_v"],
             [f"{tag}_out"], {})
        )
        return f"{tag}_out"

    def relu(tag: str, src: str) -> str:
        nodes.append((tag, "Relu", [src], [f"{tag}_out"], {}))
        return f"{tag}_out"

    prev = "x"
    stages = [(6, 16), (16, 32), (32, 64)]
    for i, (cin, cout) in enumerate(stages):
        cv = f"conv{i + 1}"
        inits[f"{cv}_w"] = [cout, cin, 3]  # 3-D Conv1d kernel
        nodes.append((cv, "Conv", [prev, f"{cv}_w"], [f"{cv}_c"],
                      {"group": 1}))
        prev = relu(f"{cv}_relu", bn(f"{cv}_bn", cout, f"{cv}_c"))
        if i < 2:
            nodes.append((f"pool{i + 1}", "MaxPool", [prev],
                          [f"pool{i + 1}_out"], {}))
            prev = f"pool{i + 1}_out"
    nodes.append(("gap", "GlobalAveragePool", [prev], ["gap_out"], {}))
    inits["flat_shape"] = [2]
    nodes.append(("flatten", "Reshape", ["gap_out", "flat_shape"],
                  ["flat"], {}))
    inits["fc1_w"] = [64, 32]
    inits["fc1_b"] = [32]
    nodes.append(("fc1", "Gemm", ["flat", "fc1_w", "fc1_b"], ["h1"], {}))
    prev = relu("fc1_relu", "h1")
    inits["fc2_w"] = [32, 4]
    inits["fc2_b"] = [4]
    nodes.append(("fc2", "Gemm", [prev, "fc2_w", "fc2_b"], ["logits"], {}))
    return nodes, inits


GESTURE_NET_NODES, GESTURE_NET_INITS = _gesture_net_spec()
GESTURE_NET_NAME = "gesture_net"


def gesture_net_onnx_path() -> str:
    return _model_onnx_path(
        GESTURE_NET_NAME, GESTURE_NET_NODES, GESTURE_NET_INITS
    )


def gesture_net_ir_values() -> str:
    return ir_values(GESTURE_NET_NAME, GESTURE_NET_NODES, GESTURE_NET_INITS)
