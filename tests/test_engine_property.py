"""Engine-level round-trip property: arbitrary small mixed-type tables
through the FULL pipeline (bucket shuffle → encode → arrow decode) must come
back exactly — the end-to-end generalization of the codec-level propIso
suite (and the net that catches boundary-layer bugs like the round-1
nullable-int64 float64 corruption, which every codec test missed because it
lived in the pandas reassembly, not in a codec)."""

import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from colonnade_spark import engine
from colonnade_spark.plan import plan

text_cell = st.one_of(
    st.text(max_size=60),
    st.sampled_from(["", " ", "a,b\nc", '"q"', "日本語🎉", "\x00x", "y" * 500]),
)
int_cell = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.sampled_from([0, -1, 2**53 + 1, -(2**53) - 3, 2**63 - 1, -(2**63)]),
)
float_cell = st.one_of(
    st.floats(allow_nan=False, width=64),
    st.sampled_from([0.0, -0.0, 1e308, -1e-308]),
)

rows_strategy = st.lists(
    st.tuples(st.one_of(text_cell, st.none()),
              st.one_of(int_cell, st.none()),
              st.one_of(float_cell, st.none()),
              st.one_of(st.booleans(), st.none())),
    min_size=1, max_size=60)


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(rows_strategy)
def test_engine_roundtrip_mixed_types(spark, rows):
    data = [(i, s, v, f, b) for i, (s, v, f, b) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "k long, s string, v long, f double, b boolean")
    p = (plan().headed("k").headed("s").headed("v").headed("f").headed("b")
         .with_keys("k"))
    wh = tempfile.mkdtemp(prefix="eng_prop_")
    engine.encode_table(spark, df, p, wh, n_buckets=2, stripe_bytes=1 << 14,
                        mode="overwrite", input_token="prop")
    got = {r["k"]: (r["s"], r["v"], r["f"], r["b"])
           for r in engine.decode_table(spark, wh).collect()}
    assert len(got) == len(data)
    for i, s, v, f, b in data:
        gs, gv, gf, gb = got[i]
        assert gs == s and gv == v and gb == b, (i, got[i], (s, v, f, b))
        if f is None:
            assert gf is None
        else:
            # bit-exact float round-trip (signed zero included)
            import math
            assert math.copysign(1, gf) == math.copysign(1, f) and gf == f
