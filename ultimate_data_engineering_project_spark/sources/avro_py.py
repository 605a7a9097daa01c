"""Pure-Python Avro binary codec for Debezium-style change events (S13,
the payload half of the Confluent wire format).

Spark's own ``from_avro`` needs the spark-avro package on the cluster.
This module decodes and encodes the same frames with no extra package,
over Arrow batches via ``mapInPandas``, so the CDC path runs and is
oracle-checked anywhere.

Supported surface: records (nested, and named types referenced by their
short or namespace-qualified name, as Debezium's ``before``/``after``
``["null", "Value"]`` do), enums (wire: symbol index; Spark: the symbol
string), fixeds, unions of any arity (one non-null branch surfaces as a
plain nullable column, several as spark-avro's ``memberN`` struct with
exactly the active member set), arrays and string-keyed maps (union
items and values included, both block-count forms decode), and the
logical types ``decimal`` (over ``bytes`` or a fixed), ``timestamp-micros``,
``timestamp-millis``, ``date`` and ``uuid``.  Unknown logical names are
ignored per the spec and decode as their wire type, which is what makes
Debezium's ``io.debezium.time.*`` annotations decodable.

One type tree: the parser turns each schema type into one node, once.
A union is always an :class:`AvroUnion`; a logical type is a node
(:class:`AvroDecimal` covers both decimal wires, :class:`AvroTemporal`
the time types); a named reference resolves to the node it names; each
:class:`AvroField` carries its node and its JSON ``default``.  Decode,
encode, the Spark type, default conversion and schema resolution each
dispatch on that node once: the codec compiles one reader and one
writer closure per field.

Schema resolution (``build_writer_aligners``) follows the spec's rules
over the surfaced shapes, at every depth: fields match by name, missing
reader fields take their default (converted at plan time), else null
when nullable, else the writer is refused; records align by name, enums
widen, unions match branches by name or type (or the first promotable
reader branch) and re-index their members, and plain primitives promote
(int->long/float/double, long->float/double, float->double,
string<->bytes).  Every refusal happens at plan time.

Deviations from the spec, each refused loudly instead of guessed:
known logical types with invalid parameters, resized fixeds, narrowing
a multi-branch union to one branch, non-null defaults on multi-branch
unions, and logical types that would need a promotion.  A union default
is typed by its first branch, so a non-null default under a leading
``"null"`` is refused, as the Java Avro stack does.  Recursive named
types are not supported.  For those, use spark-avro.

Decode is per-row Python (varint parsing has no Spark SQL form); the
writer schema is config, never per-row state; NULL payloads
(tombstones) decode to all-NULL fields.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import decimal as _decimal
import functools
import json
import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SPARK_TYPES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}
_PRIMITIVES = frozenset(_SPARK_TYPES)
_INT_RANGE = {"int": (-(2**31), 2**31 - 1), "long": (-(2**63), 2**63 - 1)}
_TEMPORAL_WIRE = {
    "timestamp-micros": "long",
    "timestamp-millis": "long",
    "date": "int",
}
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_EPOCH_NAIVE = _dt.datetime(1970, 1, 1)
_EPOCH_DATE = _dt.date(1970, 1, 1)
_ONE_US = _dt.timedelta(microseconds=1)
# decimal(38,s) carries up to 38 significant digits; Python's default
# context is prec=28 and Decimal.scaleb rounds to context precision, so
# every scale shift runs under a context wide enough to stay exact.
_DEC_EXACT = _decimal.Context(prec=77)
_NO_DEFAULT = object()


# ---------------------------------------------------------------- nodes


@dataclasses.dataclass(frozen=True)
class AvroRecord:
    """A record: its fields in wire order."""

    name: str
    fields: tuple


@dataclasses.dataclass(frozen=True)
class AvroArray:
    item: object


@dataclasses.dataclass(frozen=True)
class AvroMap:
    """String keys per the spec."""

    value: object


@dataclasses.dataclass(frozen=True)
class AvroEnum:
    name: str
    symbols: tuple


@dataclasses.dataclass(frozen=True)
class AvroFixed:
    name: str
    size: int


@dataclasses.dataclass(frozen=True)
class AvroDecimal:
    """``decimal(precision, scale)``: the two's-complement big-endian
    unscaled value, in length-prefixed ``bytes`` (``size`` None) or in
    the ``size`` bytes of the fixed named ``name``."""

    precision: int
    scale: int
    size: int | None = None
    name: str = ""

    def value(self, raw: bytes) -> _decimal.Decimal:
        unscaled = int.from_bytes(raw, "big", signed=True)
        return _decimal.Decimal(unscaled).scaleb(-self.scale, _DEC_EXACT)

    def wire_value(self, v, fname: str) -> bytes:
        p, s = self.precision, self.scale
        if isinstance(v, float):
            raise ValueError(
                f"field {fname!r}: refusing to encode a float as "
                f"decimal({p},{s}) — binary floats are inexact; pass "
                "decimal.Decimal, int, or str"
            )
        q = _decimal.Decimal(v).scaleb(s, _DEC_EXACT)
        unscaled = int(q)
        if q != unscaled:
            raise ValueError(f"field {fname!r}: {v!r} does not fit scale {s}")
        if len(str(abs(unscaled))) > p:
            raise ValueError(f"field {fname!r}: {v!r} exceeds precision {p}")
        if self.size is None:
            # minimal two's complement: bias negatives by one so the
            # -2^(8k-1) boundary values still fit in k bytes
            size = (unscaled + (unscaled < 0)).bit_length() // 8 + 1
            return unscaled.to_bytes(size, "big", signed=True)
        try:
            return unscaled.to_bytes(self.size, "big", signed=True)
        except OverflowError:
            raise ValueError(
                f"field {fname!r}: unscaled {unscaled} does not fit "
                f"fixed({self.size})"
            ) from None


@dataclasses.dataclass(frozen=True)
class AvroTemporal:
    """``timestamp-micros``/``timestamp-millis`` over ``long`` (tz-aware
    UTC datetimes) or ``date`` over ``int`` (days since the epoch)."""

    logical: str

    @property
    def wire(self) -> str:
        return _TEMPORAL_WIRE[self.logical]

    def value(self, v: int):
        if self.logical == "date":
            return _EPOCH_DATE + _dt.timedelta(days=v)
        unit = 1000 if self.logical == "timestamp-millis" else 1
        return _EPOCH_UTC + _dt.timedelta(microseconds=v * unit)

    def wire_value(self, v, fname: str) -> int:
        if self.logical == "date":
            if isinstance(v, _dt.datetime) or not isinstance(v, _dt.date):
                raise ValueError(
                    f"field {fname!r}: expected datetime.date, got {type(v)}"
                )
            return (v - _EPOCH_DATE).days
        if not isinstance(v, _dt.datetime):
            raise ValueError(f"field {fname!r}: expected datetime, got {type(v)}")
        # the session timezone is pinned to UTC (session.py), so a naive
        # timestamp out of Spark is the UTC wall clock
        us = (v - (_EPOCH_UTC if v.tzinfo is not None else _EPOCH_NAIVE)) // _ONE_US
        if self.logical == "timestamp-micros":
            return us
        if us % 1000:
            raise ValueError(
                f"field {fname!r}: {v!r} has sub-millisecond precision; "
                "use timestamp-micros"
            )
        return us // 1000


@dataclasses.dataclass(frozen=True)
class AvroUnion:
    """A union in schema order (wire indexes are positional, ``"null"``
    included).  A single-branch union keeps its index varint on the
    wire."""

    branches: tuple

    @property
    def non_null(self) -> tuple:
        return tuple(b for b in self.branches if b != "null")

    @property
    def nullable(self) -> bool:
        return "null" in self.branches


def _nullable(node) -> bool:
    return isinstance(node, AvroUnion) and node.nullable


@dataclasses.dataclass(frozen=True)
class AvroField:
    """A record field: its type node and its JSON ``default`` (absent:
    ``_NO_DEFAULT``), with its reader and writer compiled on first use."""

    name: str
    type: object
    default: object = dataclasses.field(
        default=_NO_DEFAULT, compare=False, repr=False
    )

    @property
    def value_type(self):
        """The non-null node of a ``["null", T]`` union, else the node."""
        nn = self.type.non_null if isinstance(self.type, AvroUnion) else ()
        return nn[0] if len(nn) == 1 else self.type

    @property
    def nullable(self) -> bool:
        return _nullable(self.type)

    @functools.cached_property
    def _read(self):
        return _decoder(self.type)

    @functools.cached_property
    def _write(self):
        write = _encoder(self.type, self.name)
        if isinstance(self.type, AvroUnion):
            return write
        name = self.name

        def required(out, v):
            if v is None:
                raise ValueError(f"field {name!r} is not nullable, got None")
            write(out, v)

        return required


# --------------------------------------------------------------- parser


def _register_named(node, sch: dict, defined: dict) -> None:
    """Register a named type under its short and namespace-qualified
    names for later by-reference use."""
    name = sch.get("name")
    if name:
        defined[name] = node
        if sch.get("namespace"):
            defined[f"{sch['namespace']}.{name}"] = node


def _branch_key(b):
    """Union-branch identity: named types by name, containers by kind,
    everything else by its node."""
    if isinstance(b, (AvroRecord, AvroEnum, AvroFixed)):
        return (type(b).__name__, b.name)
    if isinstance(b, AvroDecimal) and b.size is not None:
        return ("AvroFixed", b.name)
    if isinstance(b, (AvroArray, AvroMap)):
        return (type(b).__name__,)
    return b


def _parse_union(branches: list, where: str, defined: dict) -> AvroUnion:
    """The spec forbids empty unions, immediately nested unions and two
    branches of the same unnamed type (a logical type counts as its
    wire type); each would make the positional index ambiguous."""
    if not branches:
        raise ValueError(f"field {where!r}: empty union")
    parsed, seen = [], set()
    for b in branches:
        if isinstance(b, list):
            raise ValueError(
                f"field {where!r}: unions may not immediately contain "
                "other unions (Avro spec)"
            )
        p = _parse(b, where, defined)
        key = _branch_key(p)
        if isinstance(key, AvroDecimal):
            key = "bytes"
        elif isinstance(key, AvroTemporal):
            key = key.wire
        if key in seen:
            raise ValueError(
                f"field {where!r}: union contains duplicate type {p!r} "
                "(Avro spec forbids it)"
            )
        seen.add(key)
        parsed.append(p)
    return AvroUnion(tuple(parsed))


def _parse_decimal(t: dict, where: str, size: int | None) -> AvroDecimal:
    p, s = t.get("precision"), t.get("scale", 0)
    if not isinstance(p, int) or not isinstance(s, int) or not (
        1 <= p <= 38 and 0 <= s <= p
    ):
        raise ValueError(
            f"field {where!r}: bad decimal precision/scale ({p!r},{s!r}); "
            "Spark DecimalType needs 1<=p<=38, 0<=s<=p"
        )
    return AvroDecimal(p, s, size, str(t.get("name", "")) if size else "")


def _parse(t, where: str, defined: dict):
    """One schema type -> its node (primitives stay their name)."""
    if isinstance(t, str):
        if t == "null" or t in _PRIMITIVES:
            return t
        if t in defined:
            return defined[t]
        raise ValueError(
            f"field {where!r}: unsupported type {t!r} "
            "(use spark-avro for non-primitive fields)"
        )
    if isinstance(t, list):
        return _parse_union(t, where, defined)
    kind = t.get("type") if isinstance(t, dict) else None
    logical = t.get("logicalType") if isinstance(t, dict) else None
    if kind == "record":
        return _parse_record(t, defined)
    if kind == "enum":
        symbols = t.get("symbols")
        if (
            not isinstance(symbols, list)
            or not symbols
            or not all(isinstance(s, str) for s in symbols)
            or len(set(symbols)) != len(symbols)
        ):
            raise ValueError(
                f"field {where!r}: enum symbols must be a non-empty list "
                f"of distinct strings, got {symbols!r}"
            )
        node = AvroEnum(str(t.get("name", "")), tuple(symbols))
        _register_named(node, t, defined)
        return node
    if kind == "fixed":
        size = t.get("size")
        if not isinstance(size, int) or size < 1:
            raise ValueError(
                f"field {where!r}: fixed size must be a positive int, "
                f"got {size!r}"
            )
        node = (
            _parse_decimal(t, where, size)
            if logical == "decimal"
            else AvroFixed(str(t.get("name", "")), size)
        )
        _register_named(node, t, defined)
        return node
    if kind in ("array", "map"):
        key = "items" if kind == "array" else "values"
        if key not in t:
            raise ValueError(f"field {where!r}: {kind} schema has no {key}")
        inner = _parse(t[key], where, defined)
        if inner == "null":
            raise ValueError(
                f"field {where!r}: bare-null {kind} {key} are not "
                "supported (wrap in a ['null', T] union)"
            )
        return AvroArray(inner) if kind == "array" else AvroMap(inner)
    if logical == "decimal":
        if kind != "bytes":
            raise ValueError(
                f"field {where!r}: decimal logical type is only supported "
                f"over 'bytes' or a fixed, got wire type {kind!r}"
            )
        return _parse_decimal(t, where, None)
    if logical in _TEMPORAL_WIRE or logical == "uuid":
        wire = _TEMPORAL_WIRE.get(logical, "string")
        if kind != wire:
            raise ValueError(
                f"field {where!r}: logical type {logical!r} must ride on "
                f"{wire!r}, got {kind!r}"
            )
        return "string" if logical == "uuid" else AvroTemporal(logical)
    # a plain inline primitive, or an unknown logical type, which the
    # spec says to ignore (Debezium's io.debezium.time.* names)
    if isinstance(kind, str) and kind in _PRIMITIVES:
        return kind
    raise ValueError(
        f"field {where!r}: type {t!r} is not supported by the pure-Python "
        "codec (use spark-avro)"
    )


def _parse_record(sch: dict, defined: dict) -> AvroRecord:
    fields = []
    for f in sch.get("fields", []):
        node = _parse(f["type"], f["name"], defined)
        if node == "null" or (isinstance(node, AvroUnion) and not node.non_null):
            raise ValueError(f"field {f['name']!r}: bare 'null' type")
        fields.append(AvroField(f["name"], node, f.get("default", _NO_DEFAULT)))
    if not fields:
        raise ValueError("record schema has no fields")
    rec = AvroRecord(str(sch.get("name", "")), tuple(fields))
    _register_named(rec, sch, defined)
    return rec


def parse_flat_schema(avro_schema_json: str) -> list[AvroField]:
    """Parse a top-level record schema into its fields.  Anything the
    codec cannot express fails here, at plan time, not mid-decode on an
    executor."""
    sch = json.loads(avro_schema_json)
    if not isinstance(sch, dict) or sch.get("type") != "record":
        raise ValueError(f"only 'record' schemas are supported, got: {sch!r}")
    return list(_parse_record(sch, {}).fields)


def _spark_type(node) -> T.DataType:
    if isinstance(node, AvroUnion):
        nn = node.non_null
        if len(nn) == 1:
            return _spark_type(nn[0])
        # spark-avro's mapping: one memberN field per non-null branch
        return T.StructType(
            [T.StructField(f"member{i}", _spark_type(b), True) for i, b in enumerate(nn)]
        )
    if isinstance(node, AvroRecord):
        return spark_schema_for(node.fields)
    if isinstance(node, AvroArray):
        return T.ArrayType(_spark_type(node.item), _nullable(node.item))
    if isinstance(node, AvroMap):
        return T.MapType(T.StringType(), _spark_type(node.value), _nullable(node.value))
    if isinstance(node, AvroEnum):
        return T.StringType()
    if isinstance(node, AvroFixed):
        return T.BinaryType()
    if isinstance(node, AvroDecimal):
        return T.DecimalType(node.precision, node.scale)
    if isinstance(node, AvroTemporal):
        return T.DateType() if node.logical == "date" else T.TimestampType()
    return _SPARK_TYPES[node]


def spark_schema_for(fields) -> T.StructType:
    return T.StructType([T.StructField(f.name, _spark_type(f.type), True) for f in fields])


# ---------------------------------------------------------------- codec


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint (Avro int and long share the encoding)."""
    shift = 0
    acc = 0
    n = len(buf)
    while True:
        if pos >= n:
            raise ValueError("truncated Avro payload (varint ran off end)")
        if shift > 63:
            # a long is at most 10 varint bytes; a longer run is corrupt
            raise ValueError("malformed Avro varint (more than 10 bytes)")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    if acc > 0xFFFFFFFFFFFFFFFF:
        # the 10th byte carries more than the one bit an int64 has left;
        # refuse here rather than overflow later at the Arrow boundary
        raise ValueError("malformed Avro varint (exceeds 64 bits)")
    return (acc >> 1) ^ -(acc & 1), pos


def _read_int(buf: bytes, pos: int) -> tuple[int, int]:
    v, pos = _read_long(buf, pos)
    if not -(2**31) <= v < 2**31:
        raise ValueError(f"Avro int {v} is outside the 32-bit range")
    return v, pos


def _read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    ln, pos = _read_long(buf, pos)
    end = pos + ln
    if ln < 0 or end > len(buf):
        raise ValueError("truncated Avro payload (bad length)")
    return buf[pos:end], end


def _read_string(buf: bytes, pos: int) -> tuple[str, int]:
    raw, pos = _read_bytes(buf, pos)
    return raw.decode("utf-8"), pos


def _read_boolean(buf: bytes, pos: int) -> tuple[bool, int]:
    if pos >= len(buf):
        raise ValueError("truncated Avro payload (boolean)")
    return buf[pos] != 0, pos + 1


def _read_double(buf: bytes, pos: int) -> tuple[float, int]:
    if pos + 8 > len(buf):
        raise ValueError("truncated Avro payload (double)")
    return struct.unpack_from("<d", buf, pos)[0], pos + 8


def _read_float(buf: bytes, pos: int) -> tuple[float, int]:
    if pos + 4 > len(buf):
        raise ValueError("truncated Avro payload (float)")
    return struct.unpack_from("<f", buf, pos)[0], pos + 4


_READERS = {
    "boolean": _read_boolean,
    "int": _read_int,
    "long": _read_long,
    "float": _read_float,
    "double": _read_double,
    "string": _read_string,
    "bytes": _read_bytes,
}


def _read_fixed(size: int):
    def read(buf, pos):
        end = pos + size
        if end > len(buf):
            raise ValueError("truncated Avro payload (fixed)")
        return buf[pos:end], end

    return read


#: struct codes and widths of the fixed-width scalars: an array of them
#: packs and unpacks one block per call
_PACKED = {"float": ("f", 4), "double": ("d", 8)}


def _block_count(buf: bytes, pos: int) -> tuple[int, int]:
    """One array/map block's item count; a negative count is followed by
    the block's byte size, which a sequential read skips."""
    cnt, pos = _read_long(buf, pos)
    if cnt < 0:
        _, pos = _read_long(buf, pos)
        cnt = -cnt
    return cnt, pos


def _decoder(node):
    """node -> read(buf, pos) -> (value, pos), built once per node."""
    if isinstance(node, str):
        return _READERS[node]
    if isinstance(node, AvroRecord):
        reads = [(f.name, f._read) for f in node.fields]

        def read(buf, pos):
            out = {}  # dicts survive the Arrow object -> struct conversion
            for name, r in reads:
                out[name], pos = r(buf, pos)
            return out, pos

        return read
    if isinstance(node, AvroUnion):
        reads = [None if b == "null" else _decoder(b) for b in node.branches]
        n_nn = len(node.non_null)
        keys, k = [], 0
        for b in node.branches:
            keys.append(None if b == "null" or n_nn == 1 else f"member{k}")
            k += b != "null"

        def read(buf, pos):
            idx, pos = _read_long(buf, pos)
            if not 0 <= idx < len(reads):
                raise ValueError(
                    f"union branch index {idx} out of range (union has "
                    f"{len(reads)} branches)"
                )
            r = reads[idx]
            if r is None:
                return None, pos
            v, pos = r(buf, pos)
            return (v if keys[idx] is None else {keys[idx]: v}), pos

        return read
    if isinstance(node, AvroArray):
        item = _decoder(node.item)
        packed = _PACKED.get(node.item) if isinstance(node.item, str) else None

        def read(buf, pos):
            out = []
            while True:
                cnt, pos = _block_count(buf, pos)
                if not cnt:
                    return out, pos
                if packed and pos + cnt * packed[1] <= len(buf):
                    out.extend(struct.unpack_from(f"<{cnt}{packed[0]}", buf, pos))
                    pos += cnt * packed[1]
                    continue
                for _ in range(cnt):  # a truncated block raises from its item
                    v, pos = item(buf, pos)
                    out.append(v)

        return read
    if isinstance(node, AvroMap):
        value = _decoder(node.value)

        def read(buf, pos):
            out = {}
            while True:
                cnt, pos = _block_count(buf, pos)
                if not cnt:
                    return out, pos
                for _ in range(cnt):
                    k, pos = _read_string(buf, pos)
                    out[k], pos = value(buf, pos)

        return read
    if isinstance(node, AvroEnum):
        symbols = node.symbols

        def read(buf, pos):
            idx, pos = _read_long(buf, pos)
            if not 0 <= idx < len(symbols):
                raise ValueError(
                    f"enum {node.name!r}: symbol index {idx} out of range "
                    f"({len(symbols)} symbols)"
                )
            return symbols[idx], pos

        return read
    if isinstance(node, AvroFixed):
        return _read_fixed(node.size)
    # a logical node: read its wire value, then convert it
    if isinstance(node, AvroDecimal):
        wire = _read_bytes if node.size is None else _read_fixed(node.size)
    else:
        wire = _READERS[node.wire]
    value = node.value

    def read(buf, pos):
        v, pos = wire(buf, pos)
        return value(v), pos

    return read


def decode_record(payload: bytes, fields) -> tuple:
    """One Avro binary record body -> tuple of field values (nested
    records decode to dicts).  The Confluent payload is exactly one
    record, so leftover bytes mean a writer-schema mismatch: refuse
    rather than return silently-wrong rows."""
    out = []
    pos = 0
    for f in fields:
        v, pos = f._read(payload, pos)
        out.append(v)
    if pos != len(payload):
        raise ValueError(
            f"Avro payload has {len(payload) - pos} trailing byte(s): "
            "writer schema does not match the data"
        )
    return tuple(out)


def _write_long(out: bytearray, v: int) -> None:
    z = (v << 1) ^ (v >> 63)  # arithmetic shift: Python ints are signed
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def _write_bytes(out: bytearray, raw: bytes) -> None:
    _write_long(out, len(raw))
    out += raw


_WRITERS = {
    "boolean": lambda out, v: out.append(1 if v else 0),
    "float": lambda out, v: out.extend(struct.pack("<f", float(v))),
    "double": lambda out, v: out.extend(struct.pack("<d", float(v))),
    "string": lambda out, v: _write_bytes(out, v.encode("utf-8")),
    "bytes": lambda out, v: _write_bytes(out, bytes(v)),
}


def _integer_writer(kind: str, fname: str):
    lo, hi = _INT_RANGE[kind]

    def write(out, v):
        if isinstance(v, float) and (not v.is_integer() or abs(v) >= 2.0**53):
            # a nullable integer column reaches pandas as float64, which
            # above 2^53 has already lost integer precision
            raise ValueError(
                f"field {fname!r}: {kind} value {v!r} arrived as a float64 "
                "that cannot represent it exactly (nullable integer "
                "columns pass through pandas as float64)"
            )
        v = int(v)
        if not lo <= v <= hi:
            raise ValueError(
                f"field {fname!r}: {v} is outside the Avro {kind} range "
                f"[{lo}, {hi}]"
            )
        _write_long(out, v)

    return write


def _encode_fields(out: bytearray, values, fields) -> None:
    if len(values) != len(fields):
        raise ValueError(f"expected {len(fields)} values, got {len(values)}")
    for f, v in zip(fields, values):
        f._write(out, v)


def encode_record(values, fields) -> bytes:
    """Tuple/list of field values -> Avro binary record body.  A record
    value may be a dict (by field name) or a tuple/list/Row (positional);
    a multi-branch union value is a memberN dict/Row/tuple with exactly
    one member set."""
    out = bytearray()
    _encode_fields(out, values, fields)
    return bytes(out)


def _union_member(v, members: list, fname: str):
    """A multi-branch union value -> (wire index, writer, member value)."""
    if hasattr(v, "asDict"):  # pyspark Row
        v = v.asDict()
    if isinstance(v, (list, tuple)):
        v = {f"member{k}": x for k, x in enumerate(v)}
    elif not isinstance(v, dict):
        raise ValueError(
            f"field {fname!r}: multi-type union value must be a memberN "
            f"dict/Row/tuple, got {type(v)}"
        )
    active = [(k, x) for k, x in v.items() if x is not None]
    if len(active) != 1:
        raise ValueError(
            f"field {fname!r}: multi-type union value must set exactly one "
            f"member, got {len(active)} of {len(members)}"
        )
    k, x = active[0]
    m = k[len("member"):] if isinstance(k, str) and k.startswith("member") else ""
    if not m.isdigit() or int(m) >= len(members):
        raise ValueError(
            f"field {fname!r}: union member {k!r} out of range "
            f"({len(members)} non-null branches)"
        )
    return (*members[int(m)], x)


def _encoder(node, fname: str):
    """node -> write(out, v) for one non-null value, built once per field
    (``fname`` names the field in error messages)."""
    if isinstance(node, str):
        if node in _INT_RANGE:
            return _integer_writer(node, fname)
        return _WRITERS[node]
    if isinstance(node, AvroRecord):
        fields = node.fields

        def write(out, v):
            if hasattr(v, "asDict"):  # pyspark Row
                v = v.asDict()
            if isinstance(v, dict):
                v = [v.get(f.name) for f in fields]
            elif not isinstance(v, (list, tuple)):
                raise ValueError(
                    f"field {fname!r}: expected dict or tuple for a record "
                    f"value, got {type(v)}"
                )
            _encode_fields(out, v, fields)

        return write
    if isinstance(node, AvroUnion):
        branches = node.branches
        null_idx = branches.index("null") if node.nullable else None
        members = [
            (i, _encoder(b, fname)) for i, b in enumerate(branches) if b != "null"
        ]

        def write(out, v):
            if v is None:
                if null_idx is None:
                    raise ValueError(
                        f"field {fname!r}: union {branches!r} has no null "
                        "branch, got None"
                    )
                _write_long(out, null_idx)
                return
            if len(members) == 1:
                i, w = members[0]
            else:
                i, w, v = _union_member(v, members, fname)
            _write_long(out, i)
            w(out, v)

        return write
    if isinstance(node, AvroArray):
        item, nullable = _encoder(node.item, fname), _nullable(node.item)
        packed = _PACKED.get(node.item) if isinstance(node.item, str) else None

        def write(out, v):
            if isinstance(v, (str, bytes, dict)) or not hasattr(v, "__len__"):
                raise ValueError(
                    f"field {fname!r}: expected a sequence for array value, "
                    f"got {type(v)}"
                )
            if len(v):
                _write_long(out, len(v))
                if packed:
                    try:  # a rejected block takes the item loop for its error
                        out += struct.pack(f"<{len(v)}{packed[0]}", *v)
                        v = ()
                    except (struct.error, TypeError, OverflowError):
                        pass
                for x in v:
                    if x is None and not nullable:
                        raise ValueError(
                            f"field {fname!r}: array items are non-null "
                            "(declare ['null', T] items for nullable)"
                        )
                    item(out, x)
            out.append(0)

        return write
    if isinstance(node, AvroMap):
        value, nullable = _encoder(node.value, fname), _nullable(node.value)

        def write(out, v):
            # Spark MapType values reach pandas as lists of (key, value)
            if isinstance(v, dict):
                pairs = list(v.items())
            elif hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
                pairs = [tuple(p) for p in v]
                if any(len(p) != 2 for p in pairs):
                    raise ValueError(
                        f"field {fname!r}: map value pairs must be (key, value)"
                    )
            else:
                raise ValueError(
                    f"field {fname!r}: expected a dict or (key, value) "
                    f"sequence for map value, got {type(v)}"
                )
            if pairs:
                _write_long(out, len(pairs))
                for k, x in pairs:
                    if not isinstance(k, str):
                        raise ValueError(
                            f"field {fname!r}: map keys must be strings, "
                            f"got {type(k)}"
                        )
                    _write_bytes(out, k.encode("utf-8"))
                    if x is None and not nullable:
                        raise ValueError(
                            f"field {fname!r}: map values are non-null "
                            "(declare ['null', T] values for nullable)"
                        )
                    value(out, x)
            out.append(0)

        return write
    if isinstance(node, AvroEnum):
        index = {s: i for i, s in enumerate(node.symbols)}

        def write(out, v):
            i = index.get(v) if isinstance(v, str) else None
            if i is None:
                raise ValueError(
                    f"field {fname!r}: {v!r} is not a symbol of enum "
                    f"{node.name!r} {node.symbols!r}"
                )
            _write_long(out, i)

        return write
    if isinstance(node, AvroFixed):

        def write(out, v):
            raw = bytes(v)
            if len(raw) != node.size:
                raise ValueError(
                    f"field {fname!r}: fixed {node.name!r} needs exactly "
                    f"{node.size} bytes, got {len(raw)}"
                )
            out += raw

        return write
    # a logical node: convert to its wire value, then write that
    if isinstance(node, AvroDecimal):
        wire = _write_bytes if node.size is None else bytearray.extend
    else:
        wire = _write_long
    wire_value = node.wire_value

    def write(out, v):
        wire(out, wire_value(v, fname))

    return write


# ------------------------------------------------------- Spark surface


def decode_avro_records(
    df: DataFrame,
    avro_schema_json: str,
    payload_col: str = "payload",
    *,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Decode an Avro-binary payload column into typed columns with the
    pure-Python codec (no spark-avro needed).

    Output = ``keep_cols`` (default: every input column except the
    payload) + one column per schema field, appended flat.  NULL
    payloads (tombstones) decode to all-NULL fields.  A malformed
    payload or schema mismatch raises on the executor — corrupt CDC
    bytes must never become silently-wrong rows; quarantine upstream
    with ``strip_confluent_envelope(bad_magic='keep')`` if the topic is
    dirty.
    """
    fields = parse_flat_schema(avro_schema_json)
    keep = (
        [c for c in df.columns if c != payload_col]
        if keep_cols is None
        else list(keep_cols)
    )
    clash = {f.name for f in fields} & set(keep)
    if clash:
        raise ValueError(f"decoded field name(s) collide with kept columns: {sorted(clash)}")
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in keep] + list(spark_schema_for(fields).fields)
    )
    names = [f.name for f in fields]

    def _decode(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            cols = {name: [] for name in names}
            for raw in pdf[payload_col]:
                if raw is None:
                    for name in names:
                        cols[name].append(None)
                    continue
                vals = decode_record(bytes(raw), fields)
                for name, v in zip(names, vals):
                    cols[name].append(v)
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            for name in names:
                out[name] = pd.Series(cols[name], dtype=object, index=pdf.index)
            yield out

    return df.mapInPandas(_decode, out_schema)


def decode_confluent_avro_py(
    df: DataFrame,
    avro_schema_json: str,
    value_col: str = "value",
    *,
    bad_magic: str = "error",
) -> DataFrame:
    """Confluent wire format -> typed columns, end to end, with zero
    cluster packages: `strip_confluent_envelope` (pure expressions)
    splits magic/schema_id/payload, then the pure-Python codec decodes
    the Avro body.  The package's one Confluent-Avro decode (spark-avro's
    ``from_avro`` is not needed); oracle-checked by the
    ``avro_roundtrip_decode`` catalog entry on synthesized frames."""
    from ultimate_data_engineering_project_spark.sources.kafka import (
        strip_confluent_envelope,
    )

    stripped = strip_confluent_envelope(df, value_col, bad_magic=bad_magic)
    return decode_avro_records(
        stripped.drop(value_col), avro_schema_json, "payload"
    )


# ---------------------------------------------------- schema resolution


#: JSON default value types per primitive; bool is an int subclass in
#: Python, so it is excluded explicitly where it does not belong.
_DEFAULT_OK = {
    "boolean": (bool,),
    "int": (int,),
    "long": (int,),
    "float": (int, float),
    "double": (int, float),
    "string": (str,),
}


def _latin1_default(d, where: str) -> bytes:
    """Spec: ``bytes`` and ``fixed`` defaults are JSON strings whose code
    points 0-255 are the byte values (latin-1)."""
    if not isinstance(d, str):
        raise ValueError(
            f"reader field {where}: bytes/fixed default must be a JSON "
            f"string (the spec's latin-1 byte encoding), got {d!r}"
        )
    try:
        return d.encode("latin-1")
    except UnicodeEncodeError:
        raise ValueError(
            f"reader field {where}: bytes/fixed default contains a code "
            "point above U+00FF — not a valid latin-1 byte string"
        ) from None


def _default_value(node, d, where: str):
    """A JSON default -> the value a decoded row of ``node`` would carry,
    converted once at plan time so backfilled rows hash like written
    ones.  ``where`` is the reader path, for error messages."""
    if isinstance(node, AvroUnion):
        if d is None:
            if node.nullable:
                return None
        elif len(node.non_null) > 1:
            raise ValueError(
                f"reader field {where}: non-null default on a multi-branch "
                "union is not supported (spec types it by the first "
                "branch; use spark-avro)"
            )
        elif node.branches[0] == "null":
            # spec: a union default is typed by its FIRST branch
            raise ValueError(
                f"reader field {where}: non-null default on a union whose "
                "first branch is 'null' is spec-invalid (a union default is "
                "typed by the FIRST branch); declare the union as "
                "[T, 'null'] or use a null default"
            )
        else:
            return _default_value(node.non_null[0], d, where)
    if d is None:
        raise ValueError(
            f"reader field {where}: null default on a required "
            "(non-nullable) value"
        )
    if isinstance(node, AvroRecord):
        if not isinstance(d, dict):
            raise ValueError(
                f"reader field {where}: record default must be a JSON "
                f"object, got {d!r}"
            )
        extra = set(d) - {f.name for f in node.fields}
        if extra:
            raise ValueError(
                f"reader field {where}: record default names unknown "
                f"field(s) {sorted(extra)!r}"
            )
        # spec: fields absent from a record default take their own default
        return {
            f.name: _default_value(f.type, d[f.name], f"{where}.{f.name}")
            if f.name in d
            else _default_const(f, f"{where}.{f.name}")
            for f in node.fields
        }
    if isinstance(node, AvroArray):
        if not isinstance(d, list):
            raise ValueError(
                f"reader field {where}: array default must be a JSON list, "
                f"got {d!r}"
            )
        return [_default_value(node.item, v, f"{where}[{i}]") for i, v in enumerate(d)]
    if isinstance(node, AvroMap):
        if not isinstance(d, dict):
            raise ValueError(
                f"reader field {where}: map default must be a JSON object, "
                f"got {d!r}"
            )
        return {k: _default_value(node.value, v, f"{where}[{k!r}]") for k, v in d.items()}
    if isinstance(node, AvroEnum):
        if not isinstance(d, str) or d not in node.symbols:
            raise ValueError(
                f"reader field {where}: enum default {d!r} is not one of "
                f"{node.name!r}'s symbols"
            )
        return d
    if isinstance(node, (AvroFixed, AvroDecimal)) or node == "bytes":
        raw = _latin1_default(d, where)
        size = getattr(node, "size", None)
        if size is not None and len(raw) != size:
            raise ValueError(
                f"reader field {where}: fixed default is {len(raw)} bytes "
                f"but {node.name!r} declares size {size}"
            )
        return node.value(raw) if isinstance(node, AvroDecimal) else raw
    if isinstance(node, AvroTemporal):
        # logical defaults are the JSON wire integer
        if not isinstance(d, int) or isinstance(d, bool):
            raise ValueError(
                f"reader field {where}: {node.logical} default must be a "
                f"JSON integer (the underlying wire value), got {d!r}"
            )
        return node.value(d)
    ok = _DEFAULT_OK[node]
    if not isinstance(d, ok) or (bool not in ok and isinstance(d, bool)):
        raise ValueError(
            f"reader field {where}: default {d!r} does not match field "
            f"type {node!r}"
        )
    return d


def _default_const(f: AvroField, where: str):
    """The value of a reader field the writer lacks: its default, else
    null when nullable, else the writer is refused."""
    if f.default is not _NO_DEFAULT:
        return _default_value(f.type, f.default, where)
    if f.nullable:
        return None
    raise ValueError(
        f"required reader field {where!r} is missing and has no default"
    )


#: Resolution-rule promotions between plain primitives, applied to the
#: surfaced value (None passes through).  Logical types never promote:
#: a timestamp long read as a double would change meaning, not width.
_PROMOTIONS = {
    ("int", "long"): None,
    ("int", "float"): lambda v: None if v is None else float(v),
    ("int", "double"): lambda v: None if v is None else float(v),
    ("long", "float"): lambda v: None if v is None else float(v),
    ("long", "double"): lambda v: None if v is None else float(v),
    ("float", "double"): None,  # a decoded float32 is a Python float
    ("string", "bytes"): lambda v: None if v is None else v.encode("utf-8"),
    ("bytes", "string"): lambda v: None if v is None else v.decode("utf-8"),
}


def _promotes(wb, rb) -> bool:
    return isinstance(wb, str) and isinstance(rb, str) and (wb, rb) in _PROMOTIONS


def _branch_converter(wb, rb, where: str):
    """Writer node -> reader node: None when the surfaced writer value
    is already valid for the reader, else a converter for it; refuses
    loudly otherwise."""
    if wb == rb:
        return None
    if isinstance(wb, AvroUnion) or isinstance(rb, AvroUnion):
        return _union_value_converter(wb, rb, where)
    if _promotes(wb, rb):
        return _PROMOTIONS[wb, rb]
    if isinstance(wb, AvroEnum) and isinstance(rb, AvroEnum):
        if wb.name == rb.name and set(wb.symbols) <= set(rb.symbols):
            return None
        raise ValueError(
            f"{where!r} enum mismatch — writer {wb.name!r} symbols "
            f"{wb.symbols!r} are not a subset of reader {rb.name!r} symbols "
            f"{rb.symbols!r} (a symbol removed from the reader refuses: the "
            "history may carry it)"
        )
    if isinstance(wb, AvroRecord) and isinstance(rb, AvroRecord):
        if wb.name != rb.name:
            raise ValueError(
                f"{where!r} record name mismatch ({wb.name!r} vs "
                f"{rb.name!r}); records align by name"
            )
        return _record_aligner(wb.fields, rb.fields, where + ".", by_name=True)
    if isinstance(wb, AvroArray) and isinstance(rb, AvroArray):
        f = _branch_converter(wb.item, rb.item, where + "[]")
        return None if f is None else lambda v: None if v is None else [f(x) for x in v]
    if isinstance(wb, AvroMap) and isinstance(rb, AvroMap):
        f = _branch_converter(wb.value, rb.value, where + "{}")
        return (
            None if f is None
            else lambda v: None if v is None else {k: f(x) for k, x in v.items()}
        )
    raise ValueError(
        f"{where!r} type mismatch ({wb!r} vs {rb!r}); identical layouts, "
        "name-aligned records/enums, and primitive promotions only"
    )


def _union_value_converter(wb, rb, where: str):
    """Resolution where either side is a union (a plain node is the
    one-branch view, as the spec treats it):

      * writer-nullable vs reader-required refuses;
      * one non-null branch each: the surfaced values are plain, so the
        branch pair resolves;
      * several writer branches vs one reader branch refuses (the
        memberN struct would become a plain value);
      * otherwise each writer branch matches the reader branch of the
        same name or type, else the first promotable one in reader
        order, and the surfaced value moves to that member slot."""
    w_all = wb.branches if isinstance(wb, AvroUnion) else (wb,)
    r_all = rb.branches if isinstance(rb, AvroUnion) else (rb,)
    w_nn = [b for b in w_all if b != "null"]
    r_nn = [b for b in r_all if b != "null"]
    if "null" in w_all and "null" not in r_all:
        raise ValueError(
            f"field {where!r} is nullable in the writer but required in "
            "the reader"
        )
    if len(w_nn) == 1 and len(r_nn) == 1:
        return _branch_converter(w_nn[0], r_nn[0], where)
    if len(r_nn) == 1:
        raise ValueError(
            f"field {where!r} type mismatch — multi-branch writer union "
            f"{w_nn!r} cannot narrow to the single reader branch {r_nn!r}"
        )
    r_pos = {}
    for j, b in enumerate(r_nn):
        r_pos.setdefault(_branch_key(b), j)
    slots = []  # per writer member: (reader member, converter)
    for b in w_nn:
        j = r_pos.get(_branch_key(b))
        if j is None:
            j = next((j for j, rb2 in enumerate(r_nn) if _promotes(b, rb2)), None)
        if j is None:
            raise ValueError(
                f"field {where!r} type mismatch — writer union branch {b!r} "
                f"is absent from the reader union {r_nn!r} (no identical or "
                "promotable branch)"
            )
        try:
            slots.append((f"member{j}", _branch_converter(b, r_nn[j], where)))
        except ValueError as exc:
            raise ValueError(
                f"field {where!r} — matched union branch changed layout and "
                f"cannot resolve ({b!r} vs {r_nn[j]!r}): {exc}"
            ) from exc
    if len(w_nn) == 1:
        # the reader union is wider: lift the plain value into its slot
        (key, f), = slots

        def lift(v):
            return None if v is None else {key: v if f is None else f(v)}

        return lift
    if all(s == (f"member{k}", None) for k, s in enumerate(slots)):
        return None
    by_member = {f"member{k}": s for k, s in enumerate(slots)}

    def remap(d):
        if d is None:
            return None
        out = {}
        for k, v in d.items():
            key, f = by_member[k]
            out[key] = v if f is None else f(v)
        return out

    return remap


def _record_aligner(w_fields, r_fields, path: str, *, by_name: bool):
    """One record's writer values -> the reader's: shared fields resolve,
    reader-only fields take their default, writer-only fields drop.
    Values are read by field name from a nested record's dict
    (``by_name``) or by position from a top-level tuple, and come out in
    the same shape."""
    w_key = {f.name: (f.name if by_name else i, f) for i, f in enumerate(w_fields)}
    plan = []  # (writer key or None, converter, constant)
    for rf in r_fields:
        where = path + rf.name
        if rf.name not in w_key:
            plan.append((None, None, _default_const(rf, where)))
        else:
            key, wf = w_key[rf.name]
            plan.append((key, _branch_converter(wf.type, rf.type, where), None))
    names = [rf.name for rf in r_fields]

    def align(vals):
        if vals is None:
            return None
        out = [
            const if key is None else vals[key] if f is None else f(vals[key])
            for key, f, const in plan
        ]
        return dict(zip(names, out)) if by_name else out

    return align


def latest_writer_json(writer_schemas: dict) -> str:
    """The reader schema for an evolving topic: the HIGHEST-id writer
    version (registry ids are monotone per subject).  Keys are compared
    numerically — a map loaded from JSON config arrives with STRING
    keys, and lexicographic max picks "9" over "10"."""
    return writer_schemas[max(writer_schemas, key=int)]


def build_writer_aligners(writer_schemas: dict[int, str],
                          reader_schema_json: str):
    """Plan-time half of :func:`decode_confluent_evolving`: parse the
    reader, resolve every writer version against it, and return
    (reader_fields, {id: (writer_fields, align_fn)}).  align_fn maps a
    decoded writer tuple to a list in reader field order.  Raises on any
    incompatible historic version, so calling it at stream start fails
    before the first micro-batch.  Memoized: schemas are config, and a
    foreachBatch loop would otherwise re-resolve every version per
    micro-batch."""
    return _build_aligners(
        tuple(sorted((int(sid), w) for sid, w in writer_schemas.items())),
        reader_schema_json,
    )


@functools.lru_cache(maxsize=64)
def _build_aligners(writer_items: tuple, reader_schema_json: str):
    reader = parse_flat_schema(reader_schema_json)
    writers = {}
    for sid, wjson in writer_items:
        wfields = parse_flat_schema(wjson)
        try:
            writers[sid] = (wfields, _record_aligner(wfields, reader, "", by_name=False))
        except ValueError as exc:
            raise ValueError(f"writer schema {sid}: {exc}") from exc
    return reader, writers
def decode_confluent_evolving(
    df: DataFrame,
    writer_schemas: dict[int, str],
    reader_schema_json: str,
    value_col: str = "value",
    *,
    bad_magic: str = "error",
    unknown_id: str = "error",
) -> DataFrame:
    """Decode a topic whose rows span MULTIPLE writer-schema versions —
    the real shape of a long-lived Confluent topic: the embedded
    ``schema_id`` varies per message as the table evolves, and each row
    must be decoded with ITS writer schema, then presented under one
    ``reader`` schema (Avro schema resolution, the registry consumer's
    contract).

    ``writer_schemas`` maps schema id -> writer schema JSON (the
    registry subset this topic used — CONFIG from a registry fetch,
    never per-row state).  Every writer resolves against the reader at
    PLAN time (:func:`build_writer_aligners`, rules in the module
    docstring), so an incompatible historic version fails before any
    row decodes.  Fields match by name at every depth: writer-only
    fields are decoded and dropped, reader-only fields take their
    default, else NULL when nullable (Debezium's added-column shape).

    ``unknown_id='null'`` turns rows whose id is not in the registry
    map into all-NULL field rows that KEEP their schema_id for
    quarantine routing; the default ``'error'`` fails loudly.  NULL
    payloads (tombstones) decode to all-NULL fields as usual."""
    from ultimate_data_engineering_project_spark.sources.kafka import (
        strip_confluent_envelope,
    )

    if unknown_id not in ("error", "null"):
        raise ValueError(f"unknown_id must be 'error' or 'null', got {unknown_id!r}")
    reader, writers = build_writer_aligners(writer_schemas, reader_schema_json)
    rnames = [f.name for f in reader]
    stripped = strip_confluent_envelope(df, value_col, bad_magic=bad_magic)
    keep = [c for c in stripped.columns if c not in (value_col, "payload")]
    clash = set(rnames) & set(keep)
    if clash:
        raise ValueError(
            f"decoded field name(s) collide with kept columns: {sorted(clash)}"
        )
    in_fields = {f.name: f for f in stripped.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in keep] + list(spark_schema_for(reader).fields)
    )

    def _decode(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            cols = {n: [] for n in rnames}
            for sid, raw in zip(pdf["schema_id"], pdf["payload"]):
                if raw is None:  # tombstone, or corrupt kept by 'keep'
                    for n in rnames:
                        cols[n].append(None)
                    continue
                ent = writers.get(int(sid))
                if ent is None:
                    if unknown_id == "null":
                        for n in rnames:
                            cols[n].append(None)
                        continue
                    raise ValueError(
                        f"schema id {int(sid)} not in the writer_schemas "
                        "registry map (pass unknown_id='null' to quarantine)"
                    )
                wfields, align = ent
                vals = align(decode_record(bytes(raw), wfields))
                for n, v in zip(rnames, vals):
                    cols[n].append(v)
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            for n in rnames:
                out[n] = pd.Series(cols[n], dtype=object, index=pdf.index)
            yield out

    # payload stays in the mapInPandas INPUT (the decoder reads it);
    # out_schema keeps it out of the output
    return stripped.drop(value_col).mapInPandas(_decode, out_schema)


def encode_confluent_frames(
    df: DataFrame,
    avro_schema_json: str,
    schema_id: int,
    *,
    value_col: str = "value",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Rows -> Confluent-framed Avro messages (0x00 | int32 schema id |
    avro body): the producer half, used to synthesize oracle-checkable
    frames and to feed `write_kafka_stream` without a registry
    serializer.  Field values are read from the columns named by the
    schema, in schema order.

    Known codec limitation (an Arrow/pandas boundary artifact, not a
    wire-format one): Spark nulls in a float/double column arrive in
    pandas as NaN, indistinguishable from a genuine NaN value — for a
    NULLABLE float field both encode as the Avro null branch.  A
    REQUIRED float field keeps NaN as the IEEE value.  Nullable long
    columns pass through pandas as float64; values at or above 2^53
    raise loudly instead of silently losing integer precision."""
    fields = parse_flat_schema(avro_schema_json)
    names = [f.name for f in fields]
    missing = [n for n in names if n not in df.columns]
    if missing:
        raise ValueError(f"input is missing schema field column(s): {missing}")
    keep = list(keep_cols) if keep_cols is not None else []
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in keep]
        + [T.StructField(value_col, T.BinaryType(), False)]
    )
    header = struct.pack(">bi", 0, schema_id)

    def _encode(batches) -> Iterator:
        import pandas as pd

        def _coerce_null(v, f: AvroField):
            if v is None:
                return None
            try:
                isna = bool(pd.isna(v))
            except (TypeError, ValueError):  # arrays etc. — not null
                return v
            if not isna:
                return v
            # NaN in a REQUIRED float field is a legal IEEE value, keep
            # it; everywhere else pandas NA means SQL NULL (see
            # docstring for the nullable-float conflation).
            if (
                isinstance(v, float)
                and not f.nullable
                and f.value_type in ("float", "double")
            ):
                return v
            return None

        for pdf in batches:
            vals = []
            field_cols = [pdf[n] for n in names]
            for row in zip(*field_cols):
                row = tuple(
                    _coerce_null(v, f) for v, f in zip(row, fields)
                )
                vals.append(header + encode_record(row, fields))
            out = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
            out[value_col] = pd.Series(vals, dtype=object, index=pdf.index)
            yield out

    return df.mapInPandas(_encode, out_schema)
