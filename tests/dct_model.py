"""The JPEG 8×8 DCT pair in its definition form (T.81 A.3.3): the
independent reference the codec's separable transform is tested against.

Each output coefficient or sample is the full double sum over the 64
inputs, 4,096 multiply-adds per block, with no factoring."""

import math

from lfb_data_warehouse_spark.operators.jpegcodec import ZIGZAG

_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)]
_C = [1 / math.sqrt(2)] + [1.0] * 7


def fdct8x8(block: list[int]) -> list[float]:
    """Forward DCT of a level-shifted 8x8 block (row-major list of 64)."""
    out = [0.0] * 64
    for u in range(8):
        for v in range(8):
            s = 0.0
            for y in range(8):
                cu = _COS[u][y]
                for x in range(8):
                    s += block[y * 8 + x] * cu * _COS[v][x]
            out[u * 8 + v] = 0.25 * _C[u] * _C[v] * s
    return out


def idct8x8(coef: list[float]) -> list[float]:
    """Inverse DCT back to the spatial 8x8 block."""
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                cu = _C[u] * _COS[u][y]
                for v in range(8):
                    s += cu * _C[v] * coef[u * 8 + v] * _COS[v][x]
            out[y * 8 + x] = 0.25 * s
    return out


def put_block(plane, cw, oy, ox, zz, q, level, smax) -> None:
    """The decoder's block reconstruction one sample at a time:
    dequantize, un-zigzag, :func:`idct8x8`, level un-shift, ``round``,
    clamp to 0..smax. Same signature as ``jpegcodec._put_block``."""
    coef = [0.0] * 64
    for k in range(64):
        coef[ZIGZAG[k]] = zz[k] * q[k]
    px = idct8x8(coef)
    for y in range(8):
        row = (oy + y) * cw + ox
        for x in range(8):
            plane[row + x] = min(smax, max(0, int(round(px[y * 8 + x] + level))))
