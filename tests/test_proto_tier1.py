"""Tier-1 protobuf decode (from_protobuf + descriptor set).

The reference decodes every record with a compiled proto parser
(`KafkaProtoParquetWriter.java:269-277`). Tier 1 here is spark-protobuf,
whose jar is not in this image — so the end-to-end test self-skips on
the PROTOBUF_NOT_LOADED error and runs for real wherever the jar is
present (e.g. `--packages org.apache.spark:spark-protobuf_2.13:...`).
The descriptor-set builder itself (no protoc needed) is validated
unconditionally with the in-repo wire-format parser.
"""

import pytest

from kafka_parquet_writer_spark.sources.decoders import (
    build_file_descriptor_set,
    encode_wire_format,
    parse_wire_format,
    proto_decoder,
)

REF_FIELDS = [
    # the reference test schema (src/test/resources/test-message.proto:5-10)
    ("query", 1, "string"),
    ("timestamp", 2, "int64"),
    ("pgsize", 3, "int32"),
    ("offset", 4, "int32"),
]


def test_descriptor_set_structure_parses():
    """The hand-built FileDescriptorSet must be structurally valid
    protobuf: outer file entry, package/name/syntax strings, one
    message with the four fields at the right numbers/types."""
    blob = build_file_descriptor_set("TestMessage", REF_FIELDS)
    fds = parse_wire_format(blob)
    assert list(fds) == [1]  # FileDescriptorSet.file
    fdp = parse_wire_format(fds[1][0])
    assert fdp[2][0] == b"kpws"  # package
    assert fdp[12][0] == b"proto3"  # syntax
    msg = parse_wire_format(fdp[4][0])  # message_type
    assert msg[1][0] == b"TestMessage"
    got_fields = [parse_wire_format(f) for f in msg[2]]
    assert [(f[1][0].decode(), f[3][0]) for f in got_fields] == [
        (name, num) for name, num, _ in REF_FIELDS
    ]
    # string=9, int64=3, int32=5
    assert [f[5][0] for f in got_fields] == [9, 3, 5, 5]


def test_from_protobuf_roundtrip_when_jar_present(spark, tmp_path):
    """End-to-end tier-1 decode of reference-shaped messages. Skips
    (does not silently pass) when the spark-protobuf jar is absent."""
    desc = build_file_descriptor_set("TestMessage", REF_FIELDS)
    path = str(tmp_path / "desc.bin")
    with open(path, "wb") as f:
        f.write(desc)
    msgs = [
        {1: "q-0", 2: 1_700_000_000_000, 3: 7, 4: 0},
        {1: "q-1", 2: -5, 3: -1, 4: 1},  # negative int64/int32
    ]
    df = spark.createDataFrame(
        [(encode_wire_format(m),) for m in msgs], "value binary"
    )
    decode = proto_decoder(path, "kpws.TestMessage")
    try:
        rows = sorted(decode(df).collect(), key=lambda r: r.offset)
    except Exception as e:  # noqa: BLE001
        if "PROTOBUF_NOT_LOADED" in str(e):
            pytest.skip("spark-protobuf jar not on the classpath")
        raise
    assert [(r.query, r.timestamp, r.pgsize) for r in rows] == [
        ("q-0", 1_700_000_000_000, 7),
        ("q-1", -5, -1),
    ]


# ------------------------------------------ nested + repeated (round 10)

#: a two-level schema: the reference's own test schema is flat scalars
#: (`src/test/resources/test-message.proto:5-10`), but parquet-protobuf
#: passes nested groups straight through (`ParquetFile.java:97-99`), so
#: the decode tier must cover one nested and one repeated field.
NESTED_FIELDS = [
    ("query", 1, "string"),
    ("timestamp", 2, "int64"),
    ("tags", 3, "repeated int32"),
    ("meta", 4, "message:Meta"),
]
META_FIELDS = [
    ("source", 1, "string"),
    ("weight", 2, "int64"),
]


def test_descriptor_set_nested_and_repeated_structure():
    """The hand-built descriptor for a two-level message must carry the
    LABEL_REPEATED label, the TYPE_MESSAGE + fully-qualified type_name,
    and the nested DescriptorProto."""
    blob = build_file_descriptor_set(
        "Outer", NESTED_FIELDS, nested={"Meta": META_FIELDS}
    )
    fdp = parse_wire_format(parse_wire_format(blob)[1][0])
    msg = parse_wire_format(fdp[4][0])
    assert msg[1][0] == b"Outer"
    fields = [parse_wire_format(f) for f in msg[2]]
    by_name = {f[1][0].decode(): f for f in fields}
    # repeated int32: label 3 (LABEL_REPEATED), type 5 (TYPE_INT32)
    assert by_name["tags"][4][0] == 3 and by_name["tags"][5][0] == 5
    # message field: label 1, type 11 (TYPE_MESSAGE), qualified name
    assert by_name["meta"][5][0] == 11
    assert by_name["meta"][6][0] == b".kpws.Outer.Meta"
    # the nested type itself, with its scalar fields
    nested = parse_wire_format(msg[3][0])
    assert nested[1][0] == b"Meta"
    nfields = [parse_wire_format(f) for f in nested[2]]
    assert [(f[1][0].decode(), f[5][0]) for f in nfields] == [
        ("source", 9),
        ("weight", 3),
    ]


def test_from_protobuf_nested_repeated_when_jar_present(spark, tmp_path):
    """Tier-1 end-to-end decode of a two-level message with a repeated
    field. Skips (does not silently pass) when the jar is absent."""
    desc = build_file_descriptor_set(
        "Outer", NESTED_FIELDS, nested={"Meta": META_FIELDS}
    )
    path = str(tmp_path / "desc.bin")
    with open(path, "wb") as f:
        f.write(desc)
    msgs = [
        {1: "q-0", 2: 11, 3: [1, 2, 300], 4: {1: "web", 2: 5}},
        {1: "q-1", 2: 22, 3: [], 4: {1: "api", 2: -9}},
    ]
    df = spark.createDataFrame(
        [(encode_wire_format(m),) for m in msgs], "value binary"
    )
    decode = proto_decoder(path, "kpws.Outer")
    try:
        rows = sorted(decode(df).collect(), key=lambda r: r.timestamp)
    except Exception as e:  # noqa: BLE001
        if "PROTOBUF_NOT_LOADED" in str(e):
            pytest.skip("spark-protobuf jar not on the classpath")
        raise
    assert rows[0].query == "q-0" and list(rows[0].tags) == [1, 2, 300]
    assert rows[0].meta.source == "web" and rows[0].meta.weight == 5
    assert list(rows[1].tags) == [] and rows[1].meta.weight == -9


def test_wire_decoder_nested_and_repeated(spark):
    """Tier-2 decode (always runs) of the same two-level shape: packed
    AND unpacked repeated encodings both land as array<long>, the
    nested message lands as a struct column, and a malformed value
    still yields an all-null row."""
    from kafka_parquet_writer_spark.sources.decoders import (
        wire_format_decoder,
    )

    packed = encode_wire_format(
        {1: "q-0", 2: 11, 3: [1, 2, 300], 4: {1: "web", 2: 5}}
    )
    # unpacked form: three separate varint occurrences of field 3
    # (tag 0x18 = field 3, wire type 0; 300 varint-encodes as ac 02)
    unpacked = (
        encode_wire_format({1: "q-1", 2: 22})
        + b"\x18\x01\x18\x02\x18\xac\x02"
        + encode_wire_format({4: {1: "api", 2: -9}})
    )
    df = spark.createDataFrame(
        [(packed,), (unpacked,), (b"\xff\xff",)], "value binary"
    )
    decoder = wire_format_decoder(
        {
            "query": (1, "string"),
            "timestamp": (2, "long"),
            "tags": (3, "array<long>"),
            "meta": (4, {"source": (1, "string"), "weight": (2, "long")}),
        }
    )
    out = decoder(df).collect()
    assert len(out) == 3
    r0 = next(r for r in out if r.query == "q-0")
    assert list(r0.tags) == [1, 2, 300]
    assert r0.meta.source == "web" and r0.meta.weight == 5
    r1 = next(r for r in out if r.query == "q-1")
    assert list(r1.tags) == [1, 2, 300]
    assert r1.meta.source == "api" and r1.meta.weight == -9
    bad = next(r for r in out if r.query is None)
    assert bad.tags is None and bad.meta is None


def test_wire_decoder_double_fields(spark):
    """proto double fields (I64 wire type, IEEE bits) decode exactly,
    scalar and repeated (packed + unpacked) — the remaining scalar of
    the descriptor builder's type table the tier-2 reader lacked."""
    import struct

    from kafka_parquet_writer_spark.sources.decoders import (
        wire_format_decoder,
    )

    packed = encode_wire_format({1: "m-0", 2: 2.5, 3: [1.5, -0.25, 1e300]})
    # unpacked repeated double: two separate I64 occurrences of field 3
    # (tag 0x19 = field 3, wire type 1)
    unpacked = (
        encode_wire_format({1: "m-1", 2: -1.75})
        + b"\x19" + struct.pack("<d", 0.5)
        + b"\x19" + struct.pack("<d", 7.0)
    )
    df = spark.createDataFrame([(packed,), (unpacked,)], "value binary")
    decoder = wire_format_decoder(
        {
            "name": (1, "string"),
            "score": (2, "double"),
            "samples": (3, "array<double>"),
        }
    )
    out = {r.name: r for r in decoder(df).collect()}
    assert out["m-0"].score == 2.5
    assert list(out["m-0"].samples) == [1.5, -0.25, 1e300]
    assert out["m-1"].score == -1.75
    assert list(out["m-1"].samples) == [0.5, 7.0]


def test_wire_decoder_bool_and_bytes(spark):
    """bool (varint 0/1) and bytes (raw LEN payload) complete the
    wire reader's scalar coverage of the descriptor builder's table."""
    from kafka_parquet_writer_spark.sources.decoders import (
        wire_format_decoder,
    )

    msgs = [
        encode_wire_format({1: "b-0", 2: 1, 3: b"\x00\xffraw"}),
        encode_wire_format({1: "b-1", 2: 0, 3: b""}),
    ]
    df = spark.createDataFrame([(m,) for m in msgs], "value binary")
    decoder = wire_format_decoder(
        {
            "name": (1, "string"),
            "flag": (2, "boolean"),
            "blob": (3, "binary"),
        }
    )
    out = {r.name: r for r in decoder(df).collect()}
    assert out["b-0"].flag is True and bytes(out["b-0"].blob) == b"\x00\xffraw"
    assert out["b-1"].flag is False and bytes(out["b-1"].blob) == b""
