"""Property-based fuzz of the pure-Python Avro wire codec + Confluent
framing — hypothesis drives the primitive-type universe through round-trip
and layout invariants (no Spark session; this is the byte-level layer the
executors run inside the Arrow UDFs, so it must hold for arbitrary values,
not just the fixture's).

Reference behavior being pinned: go-kafka-avro/avro_encoder_decoder.go
(Confluent frame = 0x00 magic + BE uint32 schema id + Avro body) over
go-avro's binary codec (zigzag-varint ints, IEEE-LE floats, length-prefixed
utf8/bytes, union = varint branch index + value).
"""

from __future__ import annotations

import math
import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from syscol_spark.functions.confluent import (
    AvroCodec,
    frame_confluent,
    unframe_confluent,
    zigzag_decode,
    zigzag_encode,
)

I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
F64 = st.floats(allow_nan=False, width=64)
F32 = st.floats(allow_nan=False, width=32)

SCHEMA = {
    "type": "record",
    "name": "Fuzz",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "y", "type": "bytes"},
        {"name": "ol", "type": ["null", "long"]},
        {"name": "os", "type": ["null", "string"]},
    ],
}


@given(I64)
def test_zigzag_round_trip_any_long(v):
    assert zigzag_decode(zigzag_encode(v), 0)[0] == v


@given(st.integers(min_value=0, max_value=2**63 - 1))
def test_zigzag_varint_length_is_minimal(v):
    # zigzag maps magnitude to 2|v|(-1); each varint byte carries 7 bits
    enc = zigzag_encode(v)
    z = 2 * v if v >= 0 else 2 * (-v) - 1
    expect = max(1, math.ceil(z.bit_length() / 7))
    assert len(enc) == expect


@settings(max_examples=200)
@given(
    b=st.booleans(),
    i=I32,
    l=I64,  # noqa: E741
    f=F32,
    d=F64,
    s=st.text(max_size=80),
    y=st.binary(max_size=80),
    ol=st.none() | I64,
    os_=st.none() | st.text(max_size=40),
)
def test_flat_record_round_trip(b, i, l, f, d, s, y, ol, os_):  # noqa: E741
    codec = AvroCodec(SCHEMA)
    rec = {"b": b, "i": i, "l": l, "f": f, "d": d, "s": s, "y": y, "ol": ol, "os": os_}
    out = codec.decode(codec.encode(rec))
    assert out["b"] == b and out["i"] == i and out["l"] == l
    assert out["d"] == d  # doubles exact
    assert out["f"] == struct.unpack("<f", struct.pack("<f", f))[0]  # via f32
    assert out["s"] == s and out["y"] == y
    assert out["ol"] == ol and out["os"] == os_


@settings(max_examples=100)
@given(body=st.binary(max_size=200), sid=st.integers(min_value=0, max_value=2**31 - 1))
def test_confluent_frame_layout_and_round_trip(body, sid):
    framed = frame_confluent(body, sid)
    # byte layout pinned to the reference: 1-byte 0x00 magic + BE uint32 id
    assert framed[0] == 0
    assert framed[1:5] == struct.pack(">I", sid)
    assert framed[5:] == body
    got_sid, got_body = unframe_confluent(framed)
    assert (got_sid, got_body) == (sid, body)


# --- full type universe (AvroCodec) ------------------------------------------
# The reference's vendored decoder covers the whole Avro type universe
# (go-avro/schema.go:11-26): records, enums, arrays, maps, unions, fixed,
# plus named references (including recursive schemas). hypothesis drives
# randomly-shaped nested schemas AND matching values through encode/decode.

_PRIMS = ("null", "boolean", "int", "long", "float", "double", "bytes", "string")


@st.composite
def schema_and_value(draw):
    """A (schema, value) pair: random nested schema of bounded depth plus a
    value conforming to it."""
    ctr = [0]

    def fresh(prefix):
        ctr[0] += 1
        return f"{prefix}{ctr[0]}"

    def gen_schema(depth):
        kinds = list(_PRIMS) + ["enum", "fixed"]
        if depth < 3:
            kinds += ["record", "array", "map", "union"]
        k = draw(st.sampled_from(kinds))
        if k in _PRIMS:
            return k
        if k == "enum":
            n = draw(st.integers(min_value=1, max_value=4))
            return {"type": "enum", "name": fresh("E"), "symbols": [fresh("S") for _ in range(n)]}
        if k == "fixed":
            return {"type": "fixed", "name": fresh("X"), "size": draw(st.integers(min_value=0, max_value=8))}
        if k == "array":
            return {"type": "array", "items": gen_schema(depth + 1)}
        if k == "map":
            return {"type": "map", "values": gen_schema(depth + 1)}
        if k == "record":
            n = draw(st.integers(min_value=1, max_value=4))
            return {
                "type": "record",
                "name": fresh("R"),
                "fields": [{"name": fresh("f"), "type": gen_schema(depth + 1)} for _ in range(n)],
            }
        # union: branches with pairwise-distinct value domains so the
        # documented first-match encode semantics round-trip losslessly.
        # (Avro itself forbids duplicate unnamed types in a union.)
        domains = [["null"], ["boolean"], ["int", "long"], ["double"], ["string"], ["bytes"]]
        picks = draw(st.lists(st.sampled_from(range(len(domains))), min_size=1, max_size=3, unique=True))
        branches = [draw(st.sampled_from(domains[i])) for i in picks]
        if depth < 3 and draw(st.booleans()):
            branches.append({"type": "record", "name": fresh("R"),
                             "fields": [{"name": fresh("f"), "type": gen_schema(depth + 1)}]})
        return branches

    def gen_value(s, depth=0):
        if isinstance(s, str):
            return {
                "null": st.none(),
                "boolean": st.booleans(),
                "int": I32,
                "long": I64,
                "float": F32,
                "double": F64,
                "bytes": st.binary(max_size=16),
                "string": st.text(max_size=16),
            }[s]
        if isinstance(s, list):
            return st.one_of(*[gen_value(b, depth) for b in s])
        t = s["type"]
        if t == "enum":
            return st.sampled_from(s["symbols"])
        if t == "fixed":
            return st.binary(min_size=s["size"], max_size=s["size"])
        if t == "array":
            return st.lists(gen_value(s["items"], depth + 1), max_size=3)
        if t == "map":
            return st.dictionaries(st.text(max_size=8), gen_value(s["values"], depth + 1), max_size=3)
        if t == "record":
            return st.fixed_dictionaries({f["name"]: gen_value(f["type"], depth + 1) for f in s["fields"]})
        raise AssertionError(t)

    schema = gen_schema(0)
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        schema = {"type": "record", "name": fresh("Root"), "fields": [{"name": "v", "type": schema}]}
    return schema, draw(gen_value(schema))


def _norm(v):
    """Normalize for comparison: float32 fields already round-tripped through
    struct by the value strategy (F32 draws are exact float32s), so plain
    equality works — but int-valued floats must compare type-insensitively
    (a union's first-match may encode int 3 on a double branch)."""
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


@settings(max_examples=250, deadline=None)
@given(sv=schema_and_value())
def test_nested_round_trip(sv):
    schema, value = sv
    codec = AvroCodec(schema)
    assert _norm(codec.decode(codec.encode(value))) == _norm(value)


def test_recursive_named_reference():
    """Self-referential record (linked list) — named refs resolve through
    the codec's environment, as in go-avro's named-schema registry."""
    schema = {
        "type": "record",
        "name": "Node",
        "fields": [
            {"name": "val", "type": "long"},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
    codec = AvroCodec(schema)
    lst = {"val": 1, "next": {"val": 2, "next": {"val": 3, "next": None}}}
    assert codec.decode(codec.encode(lst)) == lst


def test_negative_block_count_decode():
    """Spec: a negative array/map block count means |count| items preceded by
    a block byte size — writers may emit it; we must read it."""
    schema = {"type": "record", "name": "R", "fields": [{"name": "a", "type": {"type": "array", "items": "long"}}]}
    codec = AvroCodec(schema)
    items = [7, -3, 100]
    body_items = b"".join(zigzag_encode(x) for x in items)
    wire = zigzag_encode(-len(items)) + zigzag_encode(len(body_items)) + body_items + b"\x00"
    assert codec.decode(wire) == {"a": items}


def test_enum_and_fixed_layout():
    """Enum = varint symbol index; fixed = raw bytes, no length prefix."""
    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "e", "type": {"type": "enum", "name": "Color", "symbols": ["RED", "GREEN", "BLUE"]}},
            {"name": "x", "type": {"type": "fixed", "name": "Four", "size": 4}},
        ],
    }
    codec = AvroCodec(schema)
    wire = codec.encode({"e": "BLUE", "x": b"\x01\x02\x03\x04"})
    assert wire == zigzag_encode(2) + b"\x01\x02\x03\x04"


# --- schema-resolution properties (round 6) -----------------------------------
# The resolver through an IDENTICAL reader must be the identity projection,
# and through a deep alias-rename of every named type and field it must be
# the same value with record keys renamed. Both drive the tagged-union
# decode + projection across the whole random schema space.

from syscol_spark.functions.confluent import UnionValue, decode_resolved  # noqa: E402


@settings(max_examples=150, deadline=None)
@given(sv=schema_and_value())
def test_resolution_identity_projection(sv):
    schema, value = sv
    codec = AvroCodec(schema)
    body = codec.encode(value)
    assert _norm(decode_resolved(body, schema, schema)) == _norm(codec.decode(body))


def _rename_schema(s):
    """Deep-rename every named type and record field to <name>_r, declaring
    the old name in aliases — the reader an evolving deployment writes."""
    if isinstance(s, str):
        return s
    if isinstance(s, list):
        return [_rename_schema(b) for b in s]
    t = s["type"]
    if t in ("enum", "fixed"):
        return {**s, "name": s["name"] + "_r", "aliases": [s["name"]]}
    if t == "array":
        return {**s, "items": _rename_schema(s["items"])}
    if t == "map":
        return {**s, "values": _rename_schema(s["values"])}
    if t == "record":
        return {
            **s,
            "name": s["name"] + "_r",
            "aliases": [s["name"]],
            "fields": [
                {"name": f["name"] + "_r", "aliases": [f["name"]],
                 "type": _rename_schema(f["type"])}
                for f in s["fields"]
            ],
        }
    return s


def _rename_value(s, v):
    """Expected projection of a TAGGED decoded value through the renamed
    reader: record keys gain _r; union tags select the branch; all else
    passes through."""
    if isinstance(v, UnionValue):
        return _rename_value(s[v.branch], v.value)
    if isinstance(s, dict) and s["type"] == "record":
        return {
            f["name"] + "_r": _rename_value(f["type"], v[f["name"]])
            for f in s["fields"]
        }
    if isinstance(s, dict) and s["type"] == "array":
        return [_rename_value(s["items"], x) for x in v]
    if isinstance(s, dict) and s["type"] == "map":
        return {k: _rename_value(s["values"], x) for k, x in v.items()}
    return v


@settings(max_examples=150, deadline=None)
@given(sv=schema_and_value())
def test_resolution_alias_rename_everything(sv):
    schema, value = sv
    codec = AvroCodec(schema)
    body = codec.encode(value)
    expected = _rename_value(schema, codec.decode_tagged(body))
    assert _norm(decode_resolved(body, schema, _rename_schema(schema))) == _norm(expected)
