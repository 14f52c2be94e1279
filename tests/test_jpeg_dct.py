"""The codec's separable 8×8 DCT pair against the definition-form double
sum in :mod:`dct_model`, and every DCT-reaching media fixture against the
same fixture built and decoded through the model. No Spark."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import dct_model
from lfb_data_warehouse_spark.operators import jpegcodec, multimodal
from lfb_data_warehouse_spark.operators.jpegcodec import fdct8x8, idct8x8

# level-shifted sample ranges: 8-bit and 12-bit precision
SHIFTED = {8: (-128, 127), 12: (-2048, 2047)}


def blocks(bits: int):
    lo, hi = SHIFTED[bits]
    return st.lists(st.integers(lo, hi), min_size=64, max_size=64)


def max_gap(a, b) -> float:
    assert len(a) == len(b) == 64
    return max(abs(x - y) for x, y in zip(a, b))


@pytest.mark.parametrize("bits", [8, 12])
@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_dct_pair_matches_definition(bits, data):
    """Both transforms stay within 1e-9 of the double sum on random
    blocks. The IDCT is fed the block's own coefficients and, as a
    second input, integer coefficients spanning the quantized range."""
    block = data.draw(blocks(bits))
    coef = dct_model.fdct8x8(block)
    assert max_gap(fdct8x8(block), coef) < 1e-9
    assert max_gap(idct8x8(coef), dct_model.idct8x8(coef)) < 1e-9
    ints = [8 * v for v in data.draw(blocks(bits))]
    assert max_gap(idct8x8(ints), dct_model.idct8x8(ints)) < 1e-9


@pytest.mark.parametrize("bits", [8, 12])
@given(data=st.data())
def test_dc_only_and_constant_blocks(bits, data):
    """A DC-only block's IDCT rounds to exactly DC/8 at every sample, and
    a constant block's FDCT has no AC energy: the two facts the
    constant-tile oracle gates rely on."""
    v = data.draw(st.integers(*SHIFTED[bits]))
    px = idct8x8([8 * v] + [0] * 63)
    assert [round(p) for p in px] == [v] * 64
    coef = fdct8x8([v] * 64)
    assert round(coef[0]) == 8 * v
    assert max(abs(c) for c in coef[1:]) < 1e-9


DCT_SYNTHESIZERS = [
    "synthesize_jpeg_tiles",
    "synthesize_jpeg_color",
    "synthesize_jpeg_subsampled",
    "synthesize_jpeg_411",
    "synthesize_jpeg_311",
    "synthesize_jpeg_restart",
    "synthesize_jpeg_progressive",
    "synthesize_jpeg_progressive_restart",
    "synthesize_jpeg12",
    "synthesize_jpeg12_progressive",
    "synthesize_avi_mjpeg",
]


def payload_fn(monkeypatch, name: str):
    """The per-document payload function a synthesizer hands to
    ``_synth_map``, captured without building a frame."""
    got = []
    monkeypatch.setattr(multimodal, "_synth_map", lambda df, id_col, fn, *cols: got.append(fn))
    getattr(multimodal, name)(None, "doc_id")
    return got[0]


@pytest.mark.parametrize("name", DCT_SYNTHESIZERS)
def test_fixtures_identical_under_model_transform(monkeypatch, name):
    """Payload bytes and ``decode_real`` output for doc ids 0–119 are the
    same whether the codec runs its own transform or the model's
    definition-form FDCT and per-sample block reconstruction."""
    fn = payload_fn(monkeypatch, name)
    ids = range(120)
    shipped = [fn(d) for d in ids]
    shipped_decoded = [multimodal.decode_real(p) for p in shipped]
    with monkeypatch.context() as m:
        m.setattr(jpegcodec, "fdct8x8", dct_model.fdct8x8)
        m.setattr(jpegcodec, "_put_block", dct_model.put_block)
        model = [fn(d) for d in ids]
        model_decoded = [multimodal.decode_real(p) for p in model]
    assert shipped == model
    assert shipped_decoded == model_decoded
