"""Column-expression builders for the reference's elementwise operator
family (SURVEY §2A P1-P18): activations, quantization, fixed-point and
wire-format conversions.

All are pure Column expressions → they stay inside whole-stage codegen
(JVM-side, vectorized); none drops to Python.

Reference parity citations (into /root/reference):
- ReLU/Sigmoid/Tanh: imc22_sdk/imc22_cim.c:274-293
- GELU/SiLU: mlir_compiler/transformer_ops.py:43-47,117-132
- ReLU6/LeakyReLU enums: imc22_sdk/nn_topology.h:69-70
- quantize int8: tools/quantizer.py:24-38 (asym), codegen_cim.py:461-464 (sym)
- dequantize: mlir_compiler/quantization.py:54-57
- fake-quant STE: distillation/qat_ops.py:12-23
- fixed-point Q16.16: firmware/middleware/fixed_point_filter.c:17-35
- wire decode: examples/example_reflex_node.c:111-117; hive_arch.md:60-61
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


# -- activations (P1-P5) ----------------------------------------------------

def relu(c: Column) -> Column:
    return F.greatest(c, F.lit(0.0))


def relu6(c: Column) -> Column:
    return F.least(F.greatest(c, F.lit(0.0)), F.lit(6.0))


def leaky_relu(c: Column, alpha: float = 0.01) -> Column:
    return F.when(c >= 0, c).otherwise(c * alpha)


def sigmoid(c: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-c))


def tanh(c: Column) -> Column:
    return F.tanh(c)


def gelu(c: Column) -> Column:
    """tanh-approximation GELU (transformer_ops.py:43-47)."""
    k = math.sqrt(2.0 / math.pi)
    return 0.5 * c * (1.0 + F.tanh(k * (c + 0.044715 * c * c * c)))


def silu(c: Column) -> Column:
    """SiLU / Swish: x * sigmoid(x) (transformer_ops.py:117-132)."""
    return c * sigmoid(c)


# -- quantization (P6-P10) --------------------------------------------------

def quantize_symmetric(c: Column, scale: Column, qmax: int = 127) -> Column:
    """int8 symmetric: round(x/scale) clamped to [-qmax, qmax].

    ``scale`` is typically max(|x|)/qmax per tensor (codegen_cim.py:461-464).
    """
    return F.least(
        F.greatest(F.round(c / scale), F.lit(float(-qmax))), F.lit(float(qmax))
    ).cast("int")


def dequantize(q: Column, scale: Column, zero_point: Column | None = None) -> Column:
    """(q - zp) * scale (quantization.py:54-57)."""
    if zero_point is None:
        return q.cast("double") * scale
    return (q.cast("double") - zero_point) * scale


def fake_quantize(c: Column, scale: Column, qmax: int = 127) -> Column:
    """STE forward: dequant(quant(x)) in fp (qat_ops.py:12-23)."""
    return quantize_symmetric(c, scale, qmax).cast("double") * scale


# -- fixed point / wire formats (P12, P13) ---------------------------------

def float_to_q16_16(c: Column) -> Column:
    """Q16.16 fixed point (fixed_point_filter.c:17-35)."""
    return F.round(c * 65536.0).cast("long")


def q16_16_to_float(c: Column) -> Column:
    return c.cast("double") / 65536.0


def decode_angle_raw(c: Column) -> Column:
    """CAN command int16 in 0.01-degree units → degrees (hive_arch.md:60)."""
    return c.cast("double") * 0.01


def decode_compliance_raw(c: Column) -> Column:
    """CAN command uint8 0-255 → 0.0-1.0 (hive_arch.md:61)."""
    return c.cast("double") / 255.0


# -- misc (P14, P15) --------------------------------------------------------

def threshold_mask(c: Column, threshold: float) -> Column:
    """Near-zero suppression (sparsity_optimizer.py:86; imc22.py:513-516)."""
    return F.when(F.abs(c) >= threshold, c).otherwise(F.lit(0.0))


def compliance_blend(pid: Column, nn: Column, gamma: Column, tmax: float = 1.0) -> Column:
    """U = pid*(1-γ) + nn*γ*Tmax, clipped to [-1, 1] (hive_arch.md:21-29)."""
    u = pid * (1.0 - gamma) + nn * gamma * tmax
    return F.least(F.greatest(u, F.lit(-1.0)), F.lit(1.0))
