"""Confluent-framed Avro wire format (P3) + schema-registry client (§2.9).

Wire layout (reference: go-kafka-avro/avro_encoder_decoder.go:50-79):

    [0x00 magic][int32 big-endian schema id][avro binary body]

Body: the SlaveMetrics record in Avro binary per the embedded schema
(/root/reference/avro/slave_metrics.avsc) — field order SlaveID, Hostname,
Port, Namespace, Timestamp, Metrics; the Metrics field is *bytes containing
JSON* of the map (metrics_reporter.go:151-165), i.e. the Avro schema does
not describe individual metrics.

Spark's to_avro/from_avro live in the external spark-avro module, which is
not on the classpath, so ``AvroCodec`` implements the Avro 1.x binary spec
directly (zigzag-varint ints, length-prefixed utf8/bytes, blocked arrays and
maps, unions). It is the one codec for every schema, the envelope included.

The envelope columns are Arrow-batched pandas UDFs. On encode, to_json
renders the envelope struct JVM-side; the UDF then json-parses each
envelope again, re-serializes its Metrics map as compact JSON and writes the
Avro body and frame. On decode, the UDF unframes and decodes the body and
returns the envelope as a JSON string for from_json.
"""

from __future__ import annotations

import json
import struct
from typing import NamedTuple

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import BinaryType, StringType

MAGIC_BYTE = b"\x00"  # avro_encoder_decoder.go:26

# Embedded envelope schema — the EXACT reference schema (field names and
# namespace from /root/reference/avro/slave_metrics.go:25-58, codegen'd from
# avro/slave_metrics.avsc): registering it yields the same subject content as
# the reference producer, and generic by-id decoders see identical field
# names. (Avro binary bodies are name-independent, but registry identity is
# not.)
SLAVE_METRICS_AVSC = {
    "type": "record",
    "namespace": "avro",
    "name": "SlaveMetrics",
    "fields": [
        {"name": "SlaveID", "type": "string"},
        {"name": "Hostname", "type": "string"},
        {"name": "Port", "type": "int"},
        {"name": "Namespace", "type": "string"},
        {"name": "Timestamp", "type": "long"},
        {"name": "Metrics", "type": "bytes"},
    ],
}


# --- Avro binary primitives (Avro spec §binary encoding) --------------------

def zigzag_encode(n: int) -> bytes:
    """Avro int/long: zigzag then base-128 varint, little-endian groups."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _enc_prim(t: str, v: object) -> bytes:
    """One primitive value: zigzag-varint int/long, IEEE little-endian
    float/double, length-prefixed utf8/bytes."""
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    if t in ("int", "long"):
        return zigzag_encode(int(v))
    if t == "float":
        return struct.pack("<f", float(v))
    if t == "double":
        return struct.pack("<d", float(v))
    if t == "bytes":
        raw = bytes(v)
        return zigzag_encode(len(raw)) + raw
    if t == "string":
        raw = str(v).encode("utf-8")
        return zigzag_encode(len(raw)) + raw
    raise ValueError(f"unsupported type {t!r}")


def _dec_prim(t: str, buf: bytes, pos: int) -> tuple[object, int]:
    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        return zigzag_decode(buf, pos)
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t in ("bytes", "string"):
        n, pos = zigzag_decode(buf, pos)
        raw = buf[pos : pos + n]
        return (raw.decode("utf-8") if t == "string" else raw), pos + n
    raise ValueError(f"unsupported type {t!r}")


_PRIMITIVES = ("null", "boolean", "int", "long", "float", "double", "bytes", "string")


class AvroCodec:
    """Full Avro 1.x binary codec: the complete type universe of the
    reference's vendored decoder (go-avro/schema.go:11-26) — primitives,
    records (nested + recursive via named references), enums, arrays, maps,
    fixed, and general unions.

    Implemented directly from the Avro binary spec:

    * enum     → zigzag-varint symbol index
    * fixed    → raw bytes, length from the schema
    * array    → blocks: varint count + items, 0-count terminator (negative
                 counts per spec: |count| items preceded by a block byte
                 size, accepted on decode, never produced on encode)
    * map      → same block structure with string keys
    * union    → varint branch index + branch value; on encode the branch is
                 the FIRST schema matching the Python value's type (None →
                 null, bool → boolean, int → int/long, float → float/double,
                 str → string/enum, bytes → bytes/fixed, list → array,
                 dict → record before map — document ambiguous unions
                 accordingly)
    * record   → fields in schema order

    Python value mapping: record/map → dict, array → list, enum → symbol
    string, fixed → bytes. A map may also arrive as a list of (key, value)
    tuples, the form Arrow's ``to_pylist`` gives Spark map cells; an empty
    list then matches the first of a union's array/map branches.
    """

    def __init__(self, schema: dict | str | list):
        self._named: dict[str, list] = {}
        self._root = self._parse(schema)

    # --- schema parsing ------------------------------------------------------

    def _parse(self, s: object) -> list:
        if isinstance(s, str):
            if s in _PRIMITIVES:
                return ["prim", s]
            return ["ref", s]  # named-type reference (resolved at run time)
        if isinstance(s, list):
            return ["union", [self._parse(b) for b in s]]
        if not isinstance(s, dict):
            raise ValueError(f"bad schema node: {s!r}")
        t = s["type"]
        if t in _PRIMITIVES:
            return ["prim", t]
        if t == "fixed":
            node = ["fixed", s["name"], int(s["size"])]
            self._named[s["name"]] = node
            return node
        if t == "enum":
            node = ["enum", s["name"], list(s["symbols"])]
            self._named[s["name"]] = node
            return node
        if t == "array":
            return ["array", self._parse(s["items"])]
        if t == "map":
            return ["map", self._parse(s["values"])]
        if t == "record":
            fields: list[tuple[str, list]] = []
            node = ["record", s["name"], fields]
            # register BEFORE parsing fields so self-references resolve
            self._named[s["name"]] = node
            for f in s["fields"]:
                fields.append((f["name"], self._parse(f["type"])))
            return node
        raise ValueError(f"unsupported avro type {t!r}")

    def _deref(self, node: list) -> list:
        while node[0] == "ref":
            node = self._named[node[1]]
        return node

    # --- encode --------------------------------------------------------------

    def _matches(self, node: list, v: object, exact: bool = False) -> bool:
        node = self._deref(node)
        kind = node[0]
        if kind == "prim":
            t = node[1]
            if t == "null":
                return v is None
            if t == "boolean":
                return isinstance(v, bool)
            if t in ("int", "long"):
                return isinstance(v, int) and not isinstance(v, bool)
            if t in ("float", "double"):
                # ``exact`` excludes the int->float promotion: union encode
                # tries an exact pass first so an int value in a
                # [double, long] union takes the LONG branch (lossless, the
                # Avro-Java writer behavior) instead of the first float
                # branch (silent precision loss past 2^53).
                return isinstance(v, float) or (
                    not exact and isinstance(v, int) and not isinstance(v, bool)
                )
            if t == "bytes":
                return isinstance(v, (bytes, bytearray))
            if t == "string":
                return isinstance(v, str)
        if kind == "fixed":
            return isinstance(v, (bytes, bytearray)) and len(v) == node[2]
        if kind == "enum":
            return isinstance(v, str) and v in node[2]
        if kind == "array":
            return isinstance(v, list) and not (v and isinstance(v[0], tuple))
        if kind == "map":
            return isinstance(v, dict) or (isinstance(v, list) and all(isinstance(x, tuple) for x in v))
        if kind == "record":
            return isinstance(v, dict)
        return False

    def _enc(self, node: list, v: object, out: list[bytes]) -> None:
        node = self._deref(node)
        kind = node[0]
        if kind == "prim":
            out.append(_enc_prim(node[1], v))
        elif kind == "fixed":
            raw = bytes(v)
            if len(raw) != node[2]:
                raise ValueError(f"fixed {node[1]}: got {len(raw)} bytes, want {node[2]}")
            out.append(raw)
        elif kind == "enum":
            out.append(zigzag_encode(node[2].index(v)))
        elif kind == "array":
            if v:
                out.append(zigzag_encode(len(v)))
                for item in v:
                    self._enc(node[1], item, out)
            out.append(b"\x00")
        elif kind == "map":
            if v:
                out.append(zigzag_encode(len(v)))
                for key, val in v.items() if isinstance(v, dict) else v:
                    out.append(_enc_prim("string", key))
                    self._enc(node[1], val, out)
            out.append(b"\x00")
        elif kind == "union":
            # two passes: exact-type matches first (int never promotes to a
            # float/double branch while an int/long branch exists), then the
            # promoting first-match fallback
            for exact in (True, False):
                for i, branch in enumerate(node[1]):
                    if self._matches(branch, v, exact=exact):
                        out.append(zigzag_encode(i))
                        self._enc(branch, v, out)
                        return
            raise ValueError(f"no union branch matches {type(v).__name__} value")
        elif kind == "record":
            for fname, fnode in node[2]:
                self._enc(fnode, v[fname] if fname in v else None, out)
        else:  # pragma: no cover
            raise ValueError(f"bad node {kind!r}")

    def encode(self, record: object) -> bytes:
        out: list[bytes] = []
        self._enc(self._root, record, out)
        return b"".join(out)

    # --- decode --------------------------------------------------------------

    def _dec(self, node: list, buf: bytes, pos: int, tag: bool = False) -> tuple[object, int]:
        node = self._deref(node)
        kind = node[0]
        if kind == "prim":
            return _dec_prim(node[1], buf, pos)
        if kind == "fixed":
            size = node[2]
            return bytes(buf[pos : pos + size]), pos + size
        if kind == "enum":
            idx, pos = zigzag_decode(buf, pos)
            return node[2][idx], pos
        if kind == "array":
            items: list = []
            while True:
                n, pos = zigzag_decode(buf, pos)
                if n == 0:
                    return items, pos
                if n < 0:
                    n = -n
                    _, pos = zigzag_decode(buf, pos)
                for _ in range(n):
                    item, pos = self._dec(node[1], buf, pos, tag)
                    items.append(item)
        if kind == "map":
            d: dict = {}
            while True:
                n, pos = zigzag_decode(buf, pos)
                if n == 0:
                    return d, pos
                if n < 0:
                    n = -n
                    _, pos = zigzag_decode(buf, pos)
                for _ in range(n):
                    key, pos = _dec_prim("string", buf, pos)
                    d[key], pos = self._dec(node[1], buf, pos, tag)
        if kind == "union":
            branch, pos = zigzag_decode(buf, pos)
            v, pos = self._dec(node[1][branch], buf, pos, tag)
            return (UnionValue(branch, v) if tag else v), pos
        if kind == "record":
            rec: dict = {}
            for fname, fnode in node[2]:
                rec[fname], pos = self._dec(fnode, buf, pos, tag)
            return rec, pos
        raise ValueError(f"bad node {kind!r}")  # pragma: no cover

    def decode(self, body: bytes) -> object:
        v, pos = self._dec(self._root, body, 0)
        return v

    def decode_tagged(self, body: bytes) -> object:
        """Decode preserving each union's WIRE BRANCH INDEX (wrapped as
        UnionValue). The resolution layer needs the index: re-deriving the
        branch from the decoded Python value is ambiguous for unions like
        [string, enum] or [record, map], where two branches share a shape."""
        v, pos = self._dec(self._root, body, 0, tag=True)
        return v


_ENVELOPE_CODEC = AvroCodec(SLAVE_METRICS_AVSC)


def encode_slave_metrics(
    slave_id: str, hostname: str, port: int, namespace: str, timestamp: int, metrics_json: bytes
) -> bytes:
    """Avro-binary body of one SlaveMetrics record (schema field order)."""
    return _ENVELOPE_CODEC.encode(
        {
            "SlaveID": slave_id,
            "Hostname": hostname,
            "Port": port,
            "Namespace": namespace or "",
            "Timestamp": timestamp,
            "Metrics": metrics_json,
        }
    )


def decode_slave_metrics(body: bytes) -> dict:
    """Decode one SlaveMetrics body; keys = reference schema field names."""
    return _ENVELOPE_CODEC.decode(body)


def frame_confluent(body: bytes, schema_id: int) -> bytes:
    """magic 0x00 + BE int32 schema id + body (avro_encoder_decoder.go:62-66)."""
    return MAGIC_BYTE + struct.pack(">I", schema_id) + body


def unframe_confluent(msg: bytes) -> tuple[int, bytes]:
    if not msg or msg[0:1] != MAGIC_BYTE:
        raise ValueError("not Confluent-framed: bad magic byte")
    (schema_id,) = struct.unpack(">I", msg[1:5])
    return schema_id, msg[5:]


# --- Spark column helpers ----------------------------------------------------

def to_confluent_avro(envelope: Column, schema_id: int) -> Column:
    """Envelope struct column → Confluent-framed Avro binary column.

    The schema id is resolved ONCE at plan time via the registry client
    (register_envelope_schema) — the reference caches it the same way
    (schema_registry.go:100-113)."""

    @F.pandas_udf(BinaryType())
    def _encode(js: pd.Series) -> pd.Series:
        def one(j: str) -> bytes:
            d = json.loads(j)
            metrics_json = json.dumps(d.get("Metrics") or {}, separators=(",", ":")).encode()
            body = encode_slave_metrics(
                d["SlaveID"], d["Hostname"], int(d["Port"]), d.get("Namespace") or "",
                int(d["Timestamp"]), metrics_json,
            )
            return frame_confluent(body, schema_id)

        return js.map(one)

    return _encode(F.to_json(envelope))


def from_confluent_avro(value: Column) -> Column:
    """Confluent-framed binary → JSON string of the envelope (parse with
    from_json(ENVELOPE_SCHEMA) downstream).

    Malformed frames decode to NULL — matching from_json's null-on-malformed
    semantics — so one corrupt record cannot fail a 100 TB batch (same
    tolerance philosophy as the scrape path, S3)."""

    @F.pandas_udf(StringType())
    def _decode(vs: pd.Series) -> pd.Series:
        def one(v: bytes | None) -> str | None:
            if v is None:
                return None
            try:
                _, body = unframe_confluent(bytes(v))
                d = decode_slave_metrics(body)
                d["Metrics"] = json.loads(d["Metrics"].decode("utf-8") or "{}")
                return json.dumps(d)
            except Exception:  # noqa: BLE001 — corrupt frame → null row
                return None

        return vs.map(one)

    return _decode(value)


def from_confluent_avro_generic(value: Column, schemas_by_id: dict[int, dict]) -> Column:
    """Generic Confluent read path: framed binary → JSON string, dispatching
    on the frame's schema id against a plan-time-resolved ``{id: schema}``
    map (populate it with ``ConfluentRegistryClient.get_by_id`` — the same
    cached-by-id flow as the reference's vendored decoder,
    go-kafka-avro/avro_encoder_decoder.go:127-170). Resolution happens ONCE
    on the driver; executors only run the pure codec — no registry calls in
    the hot path. Unknown ids and corrupt frames decode to NULL (the same
    tolerance as from_json on malformed input).

    ``bytes`` fields are emitted as latin-1-mapped strings in the JSON (a
    lossless byte↔codepoint mapping) since JSON has no binary type — at any
    nesting depth; parse with from_json downstream using a matching schema.
    """
    codecs = {sid: AvroCodec(s) for sid, s in schemas_by_id.items()}

    @F.pandas_udf(StringType())
    def _decode(vs: pd.Series) -> pd.Series:
        def one(v: bytes | None) -> str | None:
            if v is None:
                return None
            try:
                sid, body = unframe_confluent(bytes(v))
                codec = codecs.get(sid)
                if codec is None:
                    return None
                return json.dumps(_bytes_to_jsonable(codec.decode(body)))
            except Exception:  # noqa: BLE001 — corrupt frame → null row
                return None

        return vs.map(one)

    return _decode(value)


def _bytes_to_jsonable(v: object) -> object:
    """Recursively map bytes → latin-1 strings so nested decoded values
    (records/arrays/maps at any depth) survive json.dumps losslessly."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("latin-1")
    if isinstance(v, dict):
        return {k: _bytes_to_jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_bytes_to_jsonable(x) for x in v]
    return v


def to_confluent_avro_generic(record: Column, schema: dict, schema_id: int) -> Column:
    """Generic write path: a struct column whose field names match the Avro
    ``schema`` → Confluent-framed binary.

    The struct crosses to Python as Arrow and is read with ``to_pylist``,
    which keeps every value exact: binary cells arrive as bytes and a
    nullable long keeps all 64 bits (a pandas UDF would see a long column
    holding a null as float64)."""
    codec = AvroCodec(schema)

    @F.arrow_udf(BinaryType())
    def _encode(recs: pa.Array) -> pa.Array:
        return pa.array(
            [frame_confluent(codec.encode(r), schema_id) for r in recs.to_pylist()],
            pa.binary(),
        )

    return _encode(record)


# --- schema registry client (§2.9) ------------------------------------------

class SchemaMetadata(NamedTuple):
    """(id, version, schema) triple returned by the latest-version endpoint —
    mirrors the reference's SchemaMetadata (schema_registry.go:48-52)."""

    id: int
    version: int
    schema: str


class ConfluentRegistryClient:
    """Confluent schema-registry REST client with the same caching contract
    as the reference (go-kafka-avro/schema_registry.go:100-113,230):
    three cache levels —

    * ``schema cache``  subject → canonical-schema → id   (register)
    * ``id cache``      id → schema string                (get_by_id; also
      warmed by register, so a round-trip through one's own registration
      never re-fetches)
    * ``version cache`` subject → canonical-schema → version (get_version)

    ``get_latest`` is deliberately UNcached — "latest" is a moving target
    (the reference's GetLatestSchemaMetadata also always fetches,
    schema_registry.go:182-204). Used at PLAN time only — never inside a
    task; executors see resolved ``{id: schema}`` maps."""

    def __init__(self, base_url: str):
        self.base_url = base_url.rstrip("/")
        self._id_by_subject_schema: dict[str, dict[str, int]] = {}
        self._schema_by_id: dict[int, str] = {}
        self._version_by_subject_schema: dict[str, dict[str, int]] = {}

    @staticmethod
    def _canon(schema: dict | str) -> str:
        """Canonical cache key for a schema (dict order must not miss)."""
        if isinstance(schema, str):
            schema = json.loads(schema)
        return json.dumps(schema, sort_keys=True, separators=(",", ":"))

    def _request(self, path: str, payload: dict | None = None) -> dict:
        import urllib.request

        req = urllib.request.Request(
            f"{self.base_url}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
            method="POST" if payload is not None else "GET",
        )
        with urllib.request.urlopen(req) as resp:  # noqa: S310
            return json.loads(resp.read())

    def register(self, subject: str, schema: dict) -> int:
        key = self._canon(schema)
        cached = self._id_by_subject_schema.setdefault(subject, {})
        if key in cached:
            return cached[key]
        schema_id = self._request(
            f"/subjects/{subject}/versions", {"schema": json.dumps(schema)}
        )["id"]
        cached[key] = schema_id
        # warm the id cache too (reference does, schema_registry.go:143-144)
        self._schema_by_id[schema_id] = json.dumps(schema)
        return schema_id

    def get_by_id(self, schema_id: int) -> str:
        """Schema string for an id. NOTE: when the id was registered by THIS
        client, the cached string is the local json.dumps serialization that
        was sent to the registry — semantically identical JSON but not
        necessarily byte-identical to the registry's canonical form
        (whitespace/escaping may differ). Consumers must json-parse rather
        than string-compare schemas (the codec layer always parses)."""
        if schema_id in self._schema_by_id:
            return self._schema_by_id[schema_id]
        schema = self._request(f"/schemas/ids/{schema_id}")["schema"]
        self._schema_by_id[schema_id] = schema
        return schema

    def get_latest(self, subject: str) -> SchemaMetadata:
        """Latest version's (id, version, schema) for a subject. Never
        cached: a consumer of an evolving topic polls this to pick up new
        versions (reference GetLatestSchemaMetadata)."""
        d = self._request(f"/subjects/{subject}/versions/latest")
        return SchemaMetadata(int(d["id"]), int(d["version"]), d["schema"])

    def get_by_version(self, subject: str, version: int) -> SchemaMetadata:
        """A specific version's (id, version, schema) for a subject
        (reference GET_SPECIFIC_SUBJECT_VERSION route)."""
        d = self._request(f"/subjects/{subject}/versions/{version}")
        return SchemaMetadata(int(d["id"]), int(d["version"]), d["schema"])

    def get_version(self, subject: str, schema: dict) -> int:
        """Version under which ``schema`` is registered for ``subject``,
        via the check-is-registered POST (reference GetVersion,
        schema_registry.go:206-240) — cached per (subject, schema)."""
        key = self._canon(schema)
        cached = self._version_by_subject_schema.setdefault(subject, {})
        if key in cached:
            return cached[key]
        version = int(
            self._request(f"/subjects/{subject}", {"schema": json.dumps(schema)})["version"]
        )
        cached[key] = version
        return version


def register_envelope_schema(registry_url: str, record_name: str = "SlaveMetrics") -> int:
    """Register the envelope schema under ``<record-name>-value`` (the
    reference's subject naming, avro_encoder_decoder.go:56-60) and return the
    id. Falls back to id=1 when no registry is reachable (fixture pin,
    FIXTURES.md A2)."""
    try:
        return ConfluentRegistryClient(registry_url).register(f"{record_name}-value", SLAVE_METRICS_AVSC)
    except Exception:  # noqa: BLE001 — no registry in test env
        return 1


# --- schema resolution (reader vs writer evolution) --------------------------
# Avro spec "Schema Resolution": a consumer may read data written with an
# OLDER schema through its own NEWER reader schema. The registry hands us the
# writer schema (by id); this projects the decoded value into the reader's
# shape: reader-only fields take their defaults, writer-only fields are
# dropped, numeric promotions apply (int->long->float->double, float->double,
# string<->bytes), enums fall back to the reader's enum default for unknown
# symbols, and unions resolve branch-by-branch. Reader ALIASES are honored
# per the spec's "Aliases" section: a reader record/enum/fixed whose
# ``aliases`` list contains the writer's name matches despite the rename,
# and a reader field resolves from a writer field named by any of its
# ``aliases`` when no same-named writer field exists. (The reference's
# vendored go-avro parses aliases in schema.go; its decoder has no
# resolution layer at all — this is a strict superset of its read path.)


class AvroSchemaResolutionError(ValueError):
    pass


class UnionValue:
    """A decoded union value carrying its wire branch index (produced by
    AvroCodec.decode_tagged; consumed by AvroResolver so writer-union
    resolution never has to guess the branch from the value's shape)."""

    __slots__ = ("branch", "value")

    def __init__(self, branch: int, value: object):
        self.branch = branch
        self.value = value

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"UnionValue({self.branch}, {self.value!r})"


_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
    "boolean": {"boolean"},
    "null": {"null"},
}


class AvroResolver:
    """Projects values decoded with ``writer`` schema into ``reader`` shape.

    Works at the decoded-value level (after ``AvroCodec.decode``): the
    writer schema supplies the type of every value, so no re-decode of the
    wire bytes is needed.
    """

    def __init__(self, writer: dict | str | list, reader: dict | str | list):
        self._wnamed: dict[str, object] = {}
        self._rnamed: dict[str, object] = {}
        self._w = self._index(writer, self._wnamed)
        self._r = self._index(reader, self._rnamed)

    def _index(self, s: object, named: dict) -> object:
        if isinstance(s, dict) and s.get("type") in ("record", "enum", "fixed"):
            named[s["name"]] = s
            if s["type"] == "record":
                for f in s["fields"]:
                    self._index(f["type"], named)
            return s
        if isinstance(s, dict) and s.get("type") in ("array",):
            self._index(s["items"], named)
        if isinstance(s, dict) and s.get("type") in ("map",):
            self._index(s["values"], named)
        if isinstance(s, list):
            for b in s:
                self._index(b, named)
        return s

    @staticmethod
    def _kind(s: object, named: dict) -> tuple[str, object]:
        """Normalize a schema node to (kind, node)."""
        if isinstance(s, str):
            if s in _PRIMITIVES:
                return "prim", s
            return AvroResolver._kind(named[s], named)
        if isinstance(s, list):
            return "union", s
        t = s["type"]
        if t in _PRIMITIVES:
            return "prim", t
        return t, s

    def project(self, value: object) -> object:
        return self._project(value, self._w, self._r)

    def _coerce_prim(self, value: object, wt: str, rt: str) -> object:
        if rt not in _PROMOTIONS.get(wt, ()):  # noqa: SIM201
            raise AvroSchemaResolutionError(f"cannot promote writer {wt} to reader {rt}")
        if rt in ("float", "double") and isinstance(value, int):
            return float(value)
        if wt == "string" and rt == "bytes" and isinstance(value, str):
            return value.encode("utf-8")
        if wt == "bytes" and rt == "string" and isinstance(value, (bytes, bytearray)):
            try:
                return bytes(value).decode("utf-8")
            except UnicodeDecodeError as exc:
                # surface as a RESOLUTION error so a reader-union branch
                # trial moves on to the next branch instead of aborting
                raise AvroSchemaResolutionError(f"bytes not valid UTF-8: {exc}") from exc
        return value

    @staticmethod
    def _names_match(wn: dict, rn: dict) -> bool:
        """Spec 'Aliases': match if names are equal, or the reader declares
        the writer's (unqualified) name among its aliases."""
        if wn["name"] == rn["name"]:
            return True
        return wn["name"] in rn.get("aliases", ())

    def _project(self, value: object, w: object, r: object) -> object:
        wk, wn = self._kind(w, self._wnamed)
        rk, rn = self._kind(r, self._rnamed)

        # writer union: the decoded value belongs to exactly one branch.
        # A tagged decode (AvroCodec.decode_tagged) carries the exact wire
        # branch index; shape matching is only the fallback for callers
        # that project plain decoded values.
        if wk == "union":
            if isinstance(value, UnionValue):
                if not 0 <= value.branch < len(wn):
                    raise AvroSchemaResolutionError(
                        f"union branch {value.branch} out of range for {len(wn)} branches"
                    )
                return self._project(value.value, wn[value.branch], r)
            branch = self._writer_branch(value, wn)
            return self._project(value, branch, r)
        if isinstance(value, UnionValue):  # writer not a union at this node
            raise AvroSchemaResolutionError("tagged union value at a non-union writer node")
        # reader union (writer not a union): like Avro-Java's ReaderUnion,
        # prefer the branch of the writer's own kind (bytes stays bytes in a
        # [string, bytes] reader) and only then fall back to the first
        # branch a promotion reaches.
        if rk == "union":
            for exact in (True, False):
                for b in rn:
                    if exact:
                        bk, bn = self._kind(b, self._rnamed)
                        if bk != wk or (wk == "prim" and bn != wn):
                            continue
                    try:
                        return self._project(value, w, b)
                    except AvroSchemaResolutionError:
                        continue
            raise AvroSchemaResolutionError(f"no reader union branch accepts writer {wn!r}")

        if wk == "prim" and rk == "prim":
            return self._coerce_prim(value, wn, rn)
        if wk != rk:
            raise AvroSchemaResolutionError(f"writer {wk} vs reader {rk}")

        if wk == "record":
            if not self._names_match(wn, rn):
                raise AvroSchemaResolutionError(f"record name {wn['name']} != {rn['name']}")
            wfields = {f["name"]: f for f in wn["fields"]}
            out = {}
            for rf in rn["fields"]:
                name = rf["name"]
                # spec: a reader field may name its writer-schema ancestor
                # via aliases (rename-with-evolution); same-name wins first
                src = name if name in wfields else next(
                    (a for a in rf.get("aliases", ()) if a in wfields), None
                )
                if src is not None:
                    out[name] = self._project(value[src], wfields[src]["type"], rf["type"])
                elif "default" in rf:
                    out[name] = rf["default"]
                else:
                    raise AvroSchemaResolutionError(f"reader field {name!r} missing and has no default")
            return out
        if wk == "enum":
            if not self._names_match(wn, rn):
                raise AvroSchemaResolutionError(f"enum name {wn['name']} != {rn['name']}")
            if value in rn["symbols"]:
                return value
            if "default" in rn:
                return rn["default"]
            raise AvroSchemaResolutionError(f"enum symbol {value!r} unknown to reader")
        if wk == "fixed":
            if not self._names_match(wn, rn) or int(wn["size"]) != int(rn["size"]):
                raise AvroSchemaResolutionError("fixed name/size mismatch")
            return value
        if wk == "array":
            return [self._project(v, wn["items"], rn["items"]) for v in value]
        if wk == "map":
            return {k: self._project(v, wn["values"], rn["values"]) for k, v in value.items()}
        raise AvroSchemaResolutionError(f"unsupported kind {wk}")

    def _writer_branch(self, value: object, branches: list) -> object:
        probe = AvroCodec(["null"])  # reuse _matches via a parsed probe
        for b in branches:
            if isinstance(b, dict) and b.get("type") in ("record", "enum", "fixed"):
                continue  # named/complex branches matched by shape below
            try:
                if probe._matches(probe._parse(b), value):
                    return b
            except KeyError:  # unresolved named ref inside the branch
                continue
        # named/complex branches: match by shape
        for b in branches:
            bk, bn = self._kind(b, self._wnamed)
            if bk == "record" and isinstance(value, dict):
                return b
            if bk == "enum" and isinstance(value, str):
                return b
            if bk == "fixed" and isinstance(value, (bytes, bytearray)):
                return b
            if bk == "array" and isinstance(value, list):
                return b
            if bk == "map" and isinstance(value, dict):
                return b
        raise AvroSchemaResolutionError(f"no writer union branch matches {value!r}")


def decode_resolved(body: bytes, writer_schema: dict, reader_schema: dict) -> object:
    """Decode Avro binary written with ``writer_schema`` and project it into
    ``reader_schema`` (the registry-consumer evolution path). The decode is
    branch-tagged, so union resolution follows the exact wire branch rather
    than guessing from value shape."""
    decoded = AvroCodec(writer_schema).decode_tagged(body)
    return AvroResolver(writer_schema, reader_schema).project(decoded)
