"""Unit tests for the vendored mini-protobuf runtime (google/).

The runtime served PySpark's transformWithState state protocol; no
operator of the program uses that protocol any more, so these tests
are its only check. They pin the wire-format corners: known byte vectors,
negative/64-bit varints, packed repeated parsing, oneof last-wins,
nested presence-on-write, and unknown-field skipping.
"""

from __future__ import annotations

import pytest

pb2 = pytest.importorskip("pyspark.sql.streaming.proto.StateMessage_pb2")

from google.protobuf import _runtime as rt  # noqa: E402


# --- wire vectors (hand-checked against the encoding spec) -----------------


def test_varint_vectors():
    out = bytearray()
    rt._write_varint(out, 1)
    assert bytes(out) == b"\x01"
    out = bytearray()
    rt._write_varint(out, 300)
    assert bytes(out) == b"\xac\x02"  # the canonical spec example
    out = bytearray()
    rt._write_varint(out, -1)
    assert bytes(out) == b"\xff" * 9 + b"\x01"  # 64-bit two's complement
    assert rt._read_varint(b"\xac\x02", 0) == (300, 2)


def test_known_message_bytes():
    # StateRequest.version is field 1, int32 → tag 0x08
    assert pb2.StateRequest(version=1).SerializeToString() == b"\x08\x01"
    # proto3 scalar at default is omitted entirely
    assert pb2.StateResponse(statusCode=0, errorMessage="", value=b"").SerializeToString() == b""


def test_negative_and_large_int_roundtrip():
    m = pb2.RegisterTimer(expiryTimestampMs=2**62)
    m2 = pb2.RegisterTimer()
    m2.ParseFromString(m.SerializeToString())
    assert m2.expiryTimestampMs == 2**62
    m = pb2.RegisterTimer(expiryTimestampMs=-5)
    m2 = pb2.RegisterTimer()
    m2.ParseFromString(m.SerializeToString())
    assert m2.expiryTimestampMs == -5


def test_oneof_last_wins():
    r = pb2.StateRequest(
        statefulProcessorCall=pb2.StatefulProcessorCall(),
        implicitGroupingKeyRequest=pb2.ImplicitGroupingKeyRequest(
            removeImplicitKey=pb2.RemoveImplicitKey()
        ),
    )
    # setting the second oneof member must clear the first
    assert not r.HasField("statefulProcessorCall")
    assert r.HasField("implicitGroupingKeyRequest")
    # an EMPTY message set into a oneof still serializes (tag + len 0):
    # the JVM dispatches on which member is present
    b = r.SerializeToString()
    chk = pb2.StateRequest()
    chk.ParseFromString(b)
    assert chk.HasField("implicitGroupingKeyRequest")
    assert chk.implicitGroupingKeyRequest.HasField("removeImplicitKey")


def test_nested_presence_on_write_only():
    cmd = pb2.StateCallCommand()
    _ = cmd.ttl.durationMs  # READ must not create presence
    assert not cmd.HasField("ttl")
    assert cmd.SerializeToString() == b""
    cmd.ttl.durationMs = 60000  # WRITE through the path must
    assert cmd.HasField("ttl")
    chk = pb2.StateCallCommand()
    chk.ParseFromString(cmd.SerializeToString())
    assert chk.ttl.durationMs == 60000


def test_repeated_message_and_packed_scalar_parse():
    # repeated message: emitted one tag per element
    resp = pb2.StateResponseWithTimer(statusCode=0)
    resp.timer.append(pb2.TimerInfo(timestampMs=10))
    resp.timer.append(pb2.TimerInfo(timestampMs=20))
    chk = pb2.StateResponseWithTimer()
    chk.ParseFromString(resp.SerializeToString())
    assert [t.timestampMs for t in chk.timer] == [10, 20]

    # packed scalars: build a synthetic descriptor with a repeated
    # int64 and feed it a PACKED payload (protobuf-java emits packed
    # for repeated scalars; our parser must accept it)
    md = rt.Descriptor("P", ".P")
    md.add_field(rt.FieldDescriptor("xs", 1, rt.TYPE_INT64, rt.LABEL_REPEATED))
    cls = rt.build_message_class(md)
    payload = bytearray()
    rt._write_varint(payload, (1 << 3) | 2)  # field 1, wire type 2
    inner = bytearray()
    for v in (3, 270, 86942):
        rt._write_varint(inner, v)
    rt._write_varint(payload, len(inner))
    payload += inner
    m = cls()
    m.ParseFromString(bytes(payload))
    assert m.xs == [3, 270, 86942]


def test_unknown_fields_skipped():
    # field 1000 (varint) then a real field; parser must skip unknowns
    buf = bytearray()
    rt._write_varint(buf, (1000 << 3) | 0)
    rt._write_varint(buf, 7)
    rt._write_varint(buf, (1 << 3) | 0)  # StateResponse.statusCode = 1
    rt._write_varint(buf, 42)
    m = pb2.StateResponse()
    m.ParseFromString(bytes(buf))
    assert m.statusCode == 42


def test_string_utf8_roundtrip():
    m = pb2.ParseStringSchema(schema="id long, naïve string ✓")
    chk = pb2.ParseStringSchema()
    chk.ParseFromString(m.SerializeToString())
    assert chk.schema == "id long, naïve string ✓"


def test_descriptor_pool_parsed_shapes():
    d = pb2.DESCRIPTOR
    sr = d.message_types_by_name["StateRequest"]
    f = sr.fields_by_name["statefulProcessorCall"]
    assert f.type == rt.TYPE_MESSAGE
    assert f.oneof_index is not None
    assert f.message_type.name == "StatefulProcessorCall"
    hs = d.enum_types_by_name["HandleState"]
    assert hs.values_by_name["CREATED"] == pb2.CREATED


# --- round-7 review regressions -------------------------------------------


def test_stale_hook_after_oneof_switch_cannot_corrupt_parent():
    """A child handed out via auto-vivification, then evicted by a
    oneof switch, must NOT re-mark itself present in the parent (it
    used to clear the active member and crash SerializeToString)."""
    r = pb2.StateRequest()
    child = r.statefulProcessorCall  # auto-vivified, not present
    r.implicitGroupingKeyRequest = pb2.ImplicitGroupingKeyRequest(
        removeImplicitKey=pb2.RemoveImplicitKey()
    )
    child.setHandleState.state = pb2.CLOSED  # write through the STALE ref
    assert r.WhichOneof("method") == "implicitGroupingKeyRequest"
    b = r.SerializeToString()  # used to raise AttributeError on int 0
    chk = pb2.StateRequest()
    chk.ParseFromString(b)
    assert chk.HasField("implicitGroupingKeyRequest")
    assert not chk.HasField("statefulProcessorCall")


def test_stale_hook_after_parse_reset():
    r = pb2.StateRequest(statefulProcessorCall=pb2.StatefulProcessorCall())
    child = r.statefulProcessorCall
    r.ParseFromString(b"")  # reset detaches previously handed-out children
    child.setHandleState.state = pb2.CREATED
    assert not r.HasField("statefulProcessorCall")
    assert r.SerializeToString() == b""


def test_singular_message_field_merges_across_occurrences():
    """Concatenating two serialized partials must MERGE the singular
    message field, not replace it (the spec's concatenation rule)."""
    b = pb2.StateCallCommand()
    b.ttl.durationMs = 9
    m = pb2.StatefulProcessorCall()
    m.ParseFromString(
        pb2.StatefulProcessorCall(
            getValueState=pb2.StateCallCommand(stateName="s")
        ).SerializeToString()
        + pb2.StatefulProcessorCall(getValueState=b).SerializeToString()
    )
    assert m.getValueState.stateName == "s"  # first occurrence survives...
    assert m.getValueState.ttl.durationMs == 9  # ...merged with the second


def test_truncated_fixed_fields_raise():
    with pytest.raises(ValueError, match="truncated fixed64"):
        list(rt._iter_fields(bytes([ (1 << 3) | 1, 0x01, 0x02 ])))
    with pytest.raises(ValueError, match="truncated fixed32"):
        list(rt._iter_fields(bytes([ (1 << 3) | 5, 0x01 ])))


def test_negative_enum_sign_extends():
    md = rt.Descriptor("E", ".E")
    md.add_field(rt.FieldDescriptor("e", 1, rt.TYPE_ENUM, 1))
    cls = rt.build_message_class(md)
    buf = bytearray()
    rt._write_varint(buf, (1 << 3) | 0)
    rt._write_varint(buf, -1)  # enum -1: 10-byte two's-complement varint
    m = cls()
    m.ParseFromString(bytes(buf))
    assert m.e == -1
