"""The columnar wire decoder against the per-row reference.

``decode_wire_batch`` frames a whole Arrow batch at once; its contract
is that every row comes out exactly as ``parse_wire_format`` +
``_extract`` decode it, with a ValueError (or a null value) becoming
the all-null DLQ row. These properties run the fuzz file's full SCHEMA
(arrays, nested message, int32, float) over arbitrary bytes,
structured messages of matching and mismatching wire types, invalid
UTF-8, null values, sliced arrays and both Arrow binary widths. Only
the last test needs Spark.
"""

import math
import struct

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from test_proto_wire_fuzz import SCHEMA

from kafka_parquet_writer_spark.sources.decoders import (
    _extract,
    decode_wire_batch,
    encode_wire_format,
    parse_wire_format,
    wire_format_decoder,
)

DLQ = {name: None for name in SCHEMA}


def _reference(value):
    if value is None:
        return DLQ
    try:
        parsed = parse_wire_format(value)
        return {
            name: _extract(parsed, fnum, ftype)
            for name, (fnum, ftype) in SCHEMA.items()
        }
    except ValueError:
        return DLQ


def _same(a, b) -> bool:
    """Exact equality: same type, floats bit for bit (any NaN matches)."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return struct.pack("<d", a) == struct.pack("<d", b)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_same, a, b))
    return type(a) is type(b) and a == b


def _check(values, arrow_type=pa.binary(), lead=0):
    """Decode ``values`` (after ``lead`` discarded rows, so the array
    has a non-zero offset) and compare every row with the reference."""
    arr = pa.array([b"\x08\x01"] * lead + values, arrow_type)[lead:]
    got = decode_wire_batch(arr, SCHEMA).to_pylist()
    assert len(got) == len(values)
    for value, row in zip(values, got):
        want = _reference(value)
        assert _same(row, want), (value, row, want)


# ------------------------------------------------------------ strategies


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        out.append((v & 0x7F) | (0x80 if v > 0x7F else 0))
        v >>= 7
        if not v:
            return bytes(out)


#: string payloads: valid text, invalid UTF-8 (bare continuation and
#: lead bytes, overlongs, out-of-range code points) and UTF-8-encoded
#: surrogates, which Python's decoder rejects
strings = st.one_of(
    st.text(max_size=8).map(str.encode),
    st.binary(max_size=8),
    st.sampled_from(
        [b"\xed\xa0\x80", b"a\xed\xbf\xbfz", b"\xc0\x80", b"\xf4\x90\x80\x80",
         b"\xf0\x9f\x98", b"\xff", b"\x80x"]
    ),
    st.text(
        alphabet=st.characters(min_codepoint=0xD800, max_codepoint=0xDFFF),
        min_size=1,
        max_size=3,
    ).map(lambda s: s.encode("utf-8", "surrogatepass")),
)

u64 = st.one_of(
    st.integers(0, 127),
    st.integers(0, (1 << 32) - 1),
    st.integers(0, (1 << 64) - 1),
)


@st.composite
def fields(draw):
    """One field occurrence, mostly of a declared field number (1-12)
    and of any wire type, so matching and mismatching occurrences,
    repeats and packed payloads all come up."""
    fnum = draw(st.one_of(st.integers(1, 12), st.integers(0, 40)))
    wt = draw(st.sampled_from([0, 0, 1, 2, 2, 2, 5]))
    tag = _varint((fnum << 3) | wt)
    if wt == 0:
        return tag + _varint(draw(u64))
    if wt == 1:
        return tag + draw(st.binary(min_size=8, max_size=8))
    if wt == 5:
        return tag + draw(st.binary(min_size=4, max_size=4))
    payload = draw(
        st.one_of(
            strings,
            st.lists(u64, max_size=4).map(lambda xs: b"".join(map(_varint, xs))),
            st.lists(st.floats(), max_size=3).map(
                lambda xs: struct.pack(f"<{len(xs)}d", *xs)
            ),
            st.dictionaries(
                st.integers(1, 3), st.integers(-(1 << 63), (1 << 63) - 1),
                max_size=2,
            ).map(encode_wire_format),
        )
    )
    return tag + _varint(len(payload)) + payload


messages = st.lists(fields(), max_size=8).map(b"".join)

#: a whole message, maybe cut short (truncation at any byte)
cut_messages = st.tuples(messages, st.floats(0, 1)).map(
    lambda m: m[0][: round(len(m[0]) * m[1])]
)

values = st.one_of(
    st.none(), st.binary(max_size=48), messages, messages, cut_messages
)

layouts = st.tuples(st.sampled_from([pa.binary(), pa.large_binary()]), st.integers(0, 3))


# ------------------------------------------------------------ properties


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(st.none(), st.binary(max_size=64)), max_size=24), layouts)
def test_arbitrary_bytes_match_reference(batch, layout):
    _check(batch, *layout)


@settings(max_examples=300, deadline=None)
@given(st.lists(values, max_size=24), layouts)
def test_structured_messages_match_reference(batch, layout):
    _check(batch, *layout)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.tuples(st.sampled_from([1, 7]), strings), max_size=4
            ).map(
                lambda occ: b"".join(
                    _varint((f << 3) | 2) + _varint(len(s)) + s for f, s in occ
                )
            ),
        ),
        max_size=16,
    ),
    layouts,
)
def test_invalid_utf8_strings_match_reference(batch, layout):
    """Valid and invalid payloads share a batch, so the Arrow cast
    fails and the column falls back to Python's replacing decoder."""
    _check(batch, *layout)


def test_well_formed_rows_decode_exactly():
    """A structured round trip of every SCHEMA type through the
    columnar path, next to a DLQ row, an empty message and a null."""
    good = encode_wire_format(
        {1: "héllo", 2: -(1 << 62) - 3, 3: 2.5, 5: 1, 6: b"\x00\xff",
         7: ["a", "bc"], 8: [1, -2, 1 << 40], 9: [0.5, -1.0],
         10: {1: -7}, 11: -(1 << 31), 12: [5, (1 << 40) + 5]}
    ) + bytes([(4 << 3) | 5]) + struct.pack("<f", 1.25)
    rows = decode_wire_batch(
        pa.array([good, b"\x0a\xff", b"", None], pa.binary()), SCHEMA
    ).to_pylist()
    assert rows[0] == {
        "s": "héllo", "n": -(1 << 62) - 3, "d": 2.5, "f": 1.25, "b": True,
        "raw": b"\x00\xff", "tags": ["a", "bc"], "xs": [1, -2, 1 << 40],
        "ds": [0.5, -1.0], "sub": {"a": -7}, "i": -(1 << 31), "ns": [5, 5],
    }
    assert rows[1] == DLQ and rows[3] == DLQ
    assert rows[2] == {**DLQ, "tags": [], "xs": [], "ds": [], "ns": []}


def test_null_empty_and_good_values_through_spark(spark):
    """A null value (a Kafka tombstone) is an all-null DLQ row; it used
    to crash the executor with a TypeError. An empty value is a message
    with no fields present. Neither disturbs the good rows beside it."""
    good = encode_wire_format({1: "hi", 2: 2, 7: ["x"], 10: {1: 3}})
    df = spark.createDataFrame(
        [(b"k0", None), (b"k1", b""), (b"k2", good), (b"k3", None)],
        "key binary, value binary",
    )
    rows = [r.asDict(recursive=True) for r in wire_format_decoder(SCHEMA)(df).collect()]
    assert len(rows) == 4
    assert sum(r == DLQ for r in rows) == 2
    assert {**DLQ, "tags": [], "xs": [], "ds": [], "ns": []} in rows
    (hit,) = [r for r in rows if r["s"] == "hi"]
    assert hit["n"] == 2 and hit["tags"] == ["x"] and hit["sub"] == {"a": 3}
