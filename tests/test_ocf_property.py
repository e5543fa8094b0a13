"""Property tests for the OCF container writer/reader pair
(model/avro_codec.write_ocf / iter_ocf): arbitrary record batches,
both codecs, and corruption reds — no Spark session needed."""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

SCHEMA = {
    "type": "record",
    "name": "P",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "opt", "type": ["null", "double"]},
        {"name": "items", "type": {"type": "array", "items": "int"}},
    ],
}

_rec = st.fixed_dictionaries(
    {
        "s": st.text(max_size=30),
        "n": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "opt": st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
        "items": st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=5),
    }
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_rec, max_size=25), st.sampled_from(["null", "deflate"]))
def test_ocf_roundtrip_property(tmp_path_factory, records, codec):
    from incubator_xtable_spark.model.avro_codec import read_ocf, write_ocf

    p = str(tmp_path_factory.mktemp("ocf") / "p.avro")
    write_ocf(p, SCHEMA, records, codec=codec)
    got, meta = read_ocf(p)
    assert got == records
    assert meta.get("avro.codec", b"null").decode() == codec


def test_ocf_truncation_red(tmp_path):
    """A truncated container must raise, never yield partial records
    silently."""
    from incubator_xtable_spark.model.avro_codec import iter_ocf, write_ocf

    p = str(tmp_path / "t.avro")
    recs = [{"s": "x" * 50, "n": i, "opt": None, "items": [i]} for i in range(100)]
    write_ocf(p, SCHEMA, recs)
    raw = open(p, "rb").read()
    open(p, "wb").write(raw[: len(raw) - 40])  # cut into the data block
    with pytest.raises((ValueError, EOFError)):
        list(iter_ocf(p))


def test_ocf_not_avro_red(tmp_path):
    from incubator_xtable_spark.model.avro_codec import iter_ocf

    p = str(tmp_path / "nope.avro")
    open(p, "wb").write(b"PAR1 definitely not avro")
    with pytest.raises(ValueError, match="not an avro object container"):
        list(iter_ocf(p))


def test_write_ocf_int64_overflow_refuses(tmp_path):
    """_write_long's range check surfaces through the container writer —
    a corrupting encode refuses instead of wrapping."""
    from incubator_xtable_spark.model.avro_codec import write_ocf

    p = str(tmp_path / "o.avro")
    with pytest.raises(ValueError):
        write_ocf(p, SCHEMA, [{"s": "", "n": 2**63, "opt": None, "items": []}])
