"""Pure-Python Thrift TCompactProtocol reader/writer for the Impala
``TRuntimeProfileTree`` IDL (reference ``RuntimeProfile.thrift:28-95``,
consumed at ``analyze_profiles.py:17-21``).

The wire format is the public Apache Thrift *compact protocol*
(thrift/doc/specs/thrift-compact-protocol.md): ULEB128 varints, zigzag
integers, short-form field headers ``(delta << 4) | type``, length-
prefixed binary, size-and-type collection headers. Only the subset the
IDL needs is implemented — struct, string, bool, i32/i64, list, set,
map — plus symmetric writers so the profile renderer can emit real
thrift-encoded profiles and the ingest path can decode them exactly the
way the reference does.

``TCounter.value`` is always an i64 on the wire; DOUBLE_VALUE counters
carry the IEEE-754 bit pattern and are reinterpreted on read
(``profile_analyzer.py:405-411`` — the same bitcast surfaced as the F4
driver query).
"""

from __future__ import annotations

import struct as _struct
from dataclasses import dataclass, field

# --- compact-protocol wire type ids ----------------------------------------

CT_STOP = 0x00
CT_BOOL_TRUE = 0x01
CT_BOOL_FALSE = 0x02
CT_BYTE = 0x03
CT_I16 = 0x04
CT_I32 = 0x05
CT_I64 = 0x06
CT_DOUBLE = 0x07
CT_BINARY = 0x08
CT_LIST = 0x09
CT_SET = 0x0A
CT_MAP = 0x0B
CT_STRUCT = 0x0C


class TCounterType:
    """enum TCounterType (RuntimeProfile.thrift:19-27)."""

    UNIT = 0
    UNIT_PER_SECOND = 1
    CPU_TICKS = 2
    BYTES = 3
    BYTES_PER_SECOND = 4
    TIME_NS = 5
    DOUBLE_VALUE = 6


# --- primitive encoders -----------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


class _Writer:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._last_fid = [0]

    def struct_begin(self) -> None:
        self._last_fid.append(0)

    def struct_end(self) -> None:
        self.buf.append(CT_STOP)
        self._last_fid.pop()

    def field(self, fid: int, ftype: int) -> None:
        delta = fid - self._last_fid[-1]
        if 0 < delta <= 15:
            self.buf.append((delta << 4) | ftype)
        else:
            self.buf.append(ftype)
            self.buf += _varint(_zigzag(fid))
        self._last_fid[-1] = fid

    def i32(self, fid: int, v: int) -> None:
        self.field(fid, CT_I32)
        self.buf += _varint(_zigzag(v) & 0xFFFFFFFFFFFFFFFF)

    def i64(self, fid: int, v: int) -> None:
        self.field(fid, CT_I64)
        self.buf += _varint(_zigzag(v) & 0xFFFFFFFFFFFFFFFF)

    def boolean(self, fid: int, v: bool) -> None:
        self.field(fid, CT_BOOL_TRUE if v else CT_BOOL_FALSE)

    def binary(self, fid: int, v: bytes) -> None:
        self.field(fid, CT_BINARY)
        self._raw_binary(v)

    def string(self, fid: int, v: str) -> None:
        self.binary(fid, v.encode("utf-8"))

    def _raw_binary(self, v: bytes) -> None:
        self.buf += _varint(len(v))
        self.buf += v

    def collection_begin(self, fid: int, coll_type: int, elem_type: int,
                         size: int) -> None:
        self.field(fid, coll_type)
        self._raw_collection(elem_type, size)

    def _raw_collection(self, elem_type: int, size: int) -> None:
        if size < 15:
            self.buf.append((size << 4) | elem_type)
        else:
            self.buf.append(0xF0 | elem_type)
            self.buf += _varint(size)

    def map_begin(self, fid: int, ktype: int, vtype: int, size: int) -> None:
        self.field(fid, CT_MAP)
        if size == 0:
            self.buf.append(0)
        else:
            self.buf += _varint(size)
            self.buf.append((ktype << 4) | vtype)


class _Reader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._last_fid = [0]

    def _byte(self) -> int:
        b = self.data[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        shift, out = 0, 0
        while True:
            b = self._byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def zigzag(self) -> int:
        return _unzigzag(self.varint())

    def binary(self) -> bytes:
        n = self.varint()
        v = self.data[self.pos : self.pos + n]
        self.pos += n
        return v

    def string(self) -> str:
        return self.binary().decode("utf-8")

    def struct_begin(self) -> None:
        self._last_fid.append(0)

    def struct_end(self) -> None:
        self._last_fid.pop()

    def field_header(self) -> tuple[int, int] | None:
        """-> (field id, wire type), or None at STOP."""
        b = self._byte()
        if b == CT_STOP:
            return None
        ftype = b & 0x0F
        delta = b >> 4
        fid = self._last_fid[-1] + delta if delta else self.zigzag()
        self._last_fid[-1] = fid
        return fid, ftype

    def collection_header(self) -> tuple[int, int]:
        """-> (element type, size)."""
        b = self._byte()
        size = b >> 4
        if size == 0xF:
            size = self.varint()
        return b & 0x0F, size

    def map_header(self) -> tuple[int, int, int]:
        """-> (key type, value type, size)."""
        size = self.varint()
        if size == 0:
            return 0, 0, 0
        b = self._byte()
        return b >> 4, b & 0x0F, size

    def skip(self, ftype: int) -> None:
        if ftype in (CT_BOOL_TRUE, CT_BOOL_FALSE):
            return
        if ftype == CT_BYTE:
            self._byte()
        elif ftype in (CT_I16, CT_I32, CT_I64):
            self.varint()
        elif ftype == CT_DOUBLE:
            self.pos += 8
        elif ftype == CT_BINARY:
            self.binary()
        elif ftype in (CT_LIST, CT_SET):
            et, n = self.collection_header()
            for _ in range(n):
                self.skip(et)
        elif ftype == CT_MAP:
            kt, vt, n = self.map_header()
            for _ in range(n):
                self.skip(kt)
                self.skip(vt)
        elif ftype == CT_STRUCT:
            self.struct_begin()
            while True:
                hdr = self.field_header()
                if hdr is None:
                    break
                self.skip(hdr[1])
            self.struct_end()
        else:
            raise ValueError(f"unknown compact wire type {ftype}")


# --- RuntimeProfile.thrift structs ------------------------------------------


@dataclass(slots=True)
class TCounter:
    """RuntimeProfile.thrift:29-34."""

    name: str
    type: int
    value: int

    def write(self, w: _Writer) -> None:
        w.struct_begin()
        w.string(1, self.name)
        w.i32(2, self.type)
        w.i64(3, self.value)
        w.struct_end()

    @classmethod
    def read(cls, r: _Reader) -> TCounter:
        out = cls("", 0, 0)
        r.struct_begin()
        while True:
            hdr = r.field_header()
            if hdr is None:
                break
            fid, ftype = hdr
            if fid == 1:
                out.name = r.string()
            elif fid == 2:
                out.type = r.zigzag()
            elif fid == 3:
                out.value = r.zigzag()
            else:
                r.skip(ftype)
        r.struct_end()
        return out

    def scalar(self):
        """getCounterValue (profile_analyzer.py:405-411): DOUBLE_VALUE is an
        i64 bit pattern -> double; everything else is the integer."""
        if self.type == TCounterType.DOUBLE_VALUE:
            return _struct.unpack("<d", _struct.pack("<q", self.value))[0]
        return self.value


def pack_double(v: float) -> int:
    """double -> i64 bit pattern for DOUBLE_VALUE counters."""
    return _struct.unpack("<q", _struct.pack("<d", float(v)))[0]


@dataclass(slots=True)
class TEventSequence:
    """RuntimeProfile.thrift:38-42."""

    name: str
    timestamps: list[int]
    labels: list[str]

    def write(self, w: _Writer) -> None:
        w.struct_begin()
        w.string(1, self.name)
        w.collection_begin(2, CT_LIST, CT_I64, len(self.timestamps))
        for t in self.timestamps:
            w.buf += _varint(_zigzag(t) & 0xFFFFFFFFFFFFFFFF)
        w.collection_begin(3, CT_LIST, CT_BINARY, len(self.labels))
        for s in self.labels:
            w._raw_binary(s.encode("utf-8"))
        w.struct_end()

    @classmethod
    def read(cls, r: _Reader) -> TEventSequence:
        out = cls("", [], [])
        r.struct_begin()
        while True:
            hdr = r.field_header()
            if hdr is None:
                break
            fid, ftype = hdr
            if fid == 1:
                out.name = r.string()
            elif fid == 2:
                _, n = r.collection_header()
                out.timestamps = [r.zigzag() for _ in range(n)]
            elif fid == 3:
                _, n = r.collection_header()
                out.labels = [r.string() for _ in range(n)]
            else:
                r.skip(ftype)
        r.struct_end()
        return out


@dataclass(slots=True)
class TTimeSeriesCounter:
    """RuntimeProfile.thrift:50-59 (declared by the IDL; written for
    completeness, never consumed by the reference analytics)."""

    name: str
    type: int
    period_ms: int
    values: list[int]

    def write(self, w: _Writer) -> None:
        w.struct_begin()
        w.string(1, self.name)
        w.i32(2, self.type)
        w.i32(3, self.period_ms)
        w.collection_begin(4, CT_LIST, CT_I64, len(self.values))
        for v in self.values:
            w.buf += _varint(_zigzag(v) & 0xFFFFFFFFFFFFFFFF)
        w.struct_end()

    @classmethod
    def read(cls, r: _Reader) -> TTimeSeriesCounter:
        out = cls("", 0, 0, [])
        r.struct_begin()
        while True:
            hdr = r.field_header()
            if hdr is None:
                break
            fid, ftype = hdr
            if fid == 1:
                out.name = r.string()
            elif fid == 2:
                out.type = r.zigzag()
            elif fid == 3:
                out.period_ms = r.zigzag()
            elif fid == 4:
                _, n = r.collection_header()
                out.values = [r.zigzag() for _ in range(n)]
            else:
                r.skip(ftype)
        r.struct_end()
        return out


@dataclass(slots=True)
class TRuntimeProfileNode:
    """RuntimeProfile.thrift:62-88."""

    name: str
    num_children: int = 0
    counters: list[TCounter] = field(default_factory=list)
    metadata: int = 0
    indent: bool = True
    info_strings: dict[str, str] = field(default_factory=dict)
    info_strings_display_order: list[str] = field(default_factory=list)
    child_counters_map: dict[str, list[str]] = field(default_factory=dict)
    event_sequences: list[TEventSequence] | None = None
    time_series_counters: list[TTimeSeriesCounter] | None = None

    def write(self, w: _Writer) -> None:
        w.struct_begin()
        w.string(1, self.name)
        w.i32(2, self.num_children)
        w.collection_begin(3, CT_LIST, CT_STRUCT, len(self.counters))
        for c in self.counters:
            c.write(w)
        w.i64(4, self.metadata)
        w.boolean(5, self.indent)
        w.map_begin(6, CT_BINARY, CT_BINARY, len(self.info_strings))
        for k, v in self.info_strings.items():
            w._raw_binary(k.encode("utf-8"))
            w._raw_binary(v.encode("utf-8"))
        w.collection_begin(7, CT_LIST, CT_BINARY,
                           len(self.info_strings_display_order))
        for s in self.info_strings_display_order:
            w._raw_binary(s.encode("utf-8"))
        w.map_begin(8, CT_BINARY, CT_SET, len(self.child_counters_map))
        for k, vs in self.child_counters_map.items():
            w._raw_binary(k.encode("utf-8"))
            w._raw_collection(CT_BINARY, len(vs))
            for v in vs:
                w._raw_binary(v.encode("utf-8"))
        if self.event_sequences is not None:
            w.collection_begin(9, CT_LIST, CT_STRUCT, len(self.event_sequences))
            for es in self.event_sequences:
                es.write(w)
        if self.time_series_counters is not None:
            w.collection_begin(10, CT_LIST, CT_STRUCT,
                               len(self.time_series_counters))
            for ts in self.time_series_counters:
                ts.write(w)
        w.struct_end()

    @classmethod
    def read(cls, r: _Reader) -> TRuntimeProfileNode:
        out = cls("")
        r.struct_begin()
        while True:
            hdr = r.field_header()
            if hdr is None:
                break
            fid, ftype = hdr
            if fid == 1:
                out.name = r.string()
            elif fid == 2:
                out.num_children = r.zigzag()
            elif fid == 3:
                _, n = r.collection_header()
                out.counters = [TCounter.read(r) for _ in range(n)]
            elif fid == 4:
                out.metadata = r.zigzag()
            elif fid == 5:
                out.indent = ftype == CT_BOOL_TRUE
            elif fid == 6:
                _, _, n = r.map_header()
                out.info_strings = {r.string(): r.string() for _ in range(n)}
            elif fid == 7:
                _, n = r.collection_header()
                out.info_strings_display_order = [r.string() for _ in range(n)]
            elif fid == 8:
                _, _, n = r.map_header()
                out.child_counters_map = {}
                for _ in range(n):
                    k = r.string()
                    _, m = r.collection_header()
                    out.child_counters_map[k] = [r.string() for _ in range(m)]
            elif fid == 9:
                _, n = r.collection_header()
                out.event_sequences = [TEventSequence.read(r) for _ in range(n)]
            elif fid == 10:
                _, n = r.collection_header()
                out.time_series_counters = [
                    TTimeSeriesCounter.read(r) for _ in range(n)
                ]
            else:
                r.skip(ftype)
        r.struct_end()
        return out


@dataclass(slots=True)
class TRuntimeProfileTree:
    """RuntimeProfile.thrift:92-95 — pre-order flattened node list."""

    nodes: list[TRuntimeProfileNode]

    def serialize(self) -> bytes:
        w = _Writer()
        w.struct_begin()
        w.collection_begin(1, CT_LIST, CT_STRUCT, len(self.nodes))
        for n in self.nodes:
            n.write(w)
        w.struct_end()
        return bytes(w.buf)

    @classmethod
    def deserialize(cls, data: bytes, lean: bool = False) -> TRuntimeProfileTree:
        """Decode a compact-protocol tree. ``lean=False`` is the fully
        general reader: every field, any field order or header form.

        ``lean=True`` is the ingest hot path's projection decode, through
        the specialized fast scanner (ingest decodes ~150k profiles per
        run — generic per-field method dispatch costs ~4x). Data no
        analytics consumer reads is skip-scanned instead of materialized,
        leaving defaults — ``info_strings_display_order``,
        ``child_counters_map``, counters other than
        RowsReturned/TotalTime (the only ones _op_row/_frag_row emit),
        event sequences other than "Query Timeline", and info strings on
        every node but the Summary (index 1, the only node whose info
        parse_profile reads). ``time_series_counters`` (field 10) IS
        materialized in lean mode since round 13: the time-series harvest
        (profiles.parsed_time_series) consumes it, and the payload is a
        few short structs per profile — the reference's analytics never
        read it (RuntimeProfile.thrift:50-59 declares it; no
        profile_analyzer.py consumer), so this repo's harvest is the
        field's first landing column. The parsed output rows are
        identical to a full decode's (pinned by tests/test_ingest.py). Any
        structural surprise on the fast path falls back to the general
        reader, which returns the full tree — a superset of the
        projection."""
        if lean:
            try:
                return _fast_deserialize(data)
            except _FastMiss:
                pass
        r = _Reader(data)
        out = cls([])
        r.struct_begin()
        while True:
            hdr = r.field_header()
            if hdr is None:
                break
            fid, ftype = hdr
            if fid == 1:
                _, n = r.collection_header()
                out.nodes = [TRuntimeProfileNode.read(r) for _ in range(n)]
            else:
                r.skip(ftype)
        r.struct_end()
        return out


class _FastMiss(Exception):
    """Raised when input deviates from the short-form, fields-in-declared-
    order encoding every thrift writer (ours included) produces."""


_INTERN: dict[bytes, str] = {}
_INTERN_CAP = 1 << 14  # distinct node/counter/key names are few; cap anyway

# The only counter names / event sequence the analyzer's output rows ever
# consume (profiles._op_row, _frag_row, parse_profile's timeline scan).
# Everything else is byte-skipped by the fast scanner.
_LEAN_COUNTERS = frozenset((b"RowsReturned", b"TotalTime"))
_LEAN_EVENT_SEQ = "Query Timeline"


def _fast_deserialize(data: bytes) -> TRuntimeProfileTree:
    """Specialized projection decoder: one closure-based scanner, varints
    and field headers inlined, fields expected in declared order with
    short-form headers. Skip-scans fields 7/8 plus unconsumed counters /
    event sequences / non-Summary info strings (see ``deserialize``)
    without materializing; every kept field equals the generic reader's
    (pinned by tests). Raises _FastMiss on anything unexpected.

    Node structs are decoded straight-line — our writer (and Impala's)
    emits fields 1-8 unconditionally in declared order, so the per-field
    header dispatch loop only runs for the optional 9/10 tail. Repeated
    strings (node/counter names, info keys, event labels) are interned
    through a bytes->str table shared across profiles: the corpus has few
    distinct names, so most decodes become one dict hit."""
    pos = 0
    intern = _INTERN

    def rv() -> int:  # unsigned varint
        nonlocal pos
        shift = out = 0
        while True:
            b = data[pos]
            pos += 1
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def rz() -> int:  # zigzag varint
        n = rv()
        return (n >> 1) ^ -(n & 1)

    def rs() -> str:  # length-prefixed utf-8
        nonlocal pos
        ln = rv()
        s = data[pos : pos + ln]
        pos += ln
        return s.decode("utf-8")

    def ri() -> str:  # length-prefixed utf-8, interned (repeated names)
        nonlocal pos
        ln = rv()
        raw = data[pos : pos + ln]
        pos += ln
        out = intern.get(raw)
        if out is None:
            out = raw.decode("utf-8")
            if len(intern) < _INTERN_CAP:
                intern[raw] = out
        return out

    def skip_s() -> None:  # skip a length-prefixed binary
        nonlocal pos
        ln = rv()  # rv() advances pos; two steps so the add sees the new pos
        pos += ln

    def skip_v() -> None:  # skip a varint
        nonlocal pos
        while data[pos] & 0x80:
            pos += 1
        pos += 1

    def coll(expect_type: int) -> int:  # collection header -> size
        nonlocal pos
        h = data[pos]
        pos += 1
        if h & 0x0F != expect_type:
            raise _FastMiss
        size = h >> 4
        return rv() if size == 0xF else size

    def counter() -> TCounter | None:
        # fully inlined: counters are the highest-count struct (~60 per
        # profile x ~150k profiles per ingest), so even the closure-call
        # overhead of rs/rz is worth removing. Only the two names the
        # analyzer ever emits (RowsReturned / TotalTime — see
        # profiles._op_row/_frag_row) are materialized; the rest are
        # byte-skipped and returned as None.
        nonlocal pos
        p = pos
        if data[p] != 0x18:  # field 1: string, delta 1
            raise _FastMiss
        p += 1
        ln = data[p]  # counter names are short: single-byte varint length
        p += 1
        if ln & 0x80:
            raise _FastMiss
        # defer the name slice: kept names are 12/9 bytes
        # (RowsReturned/TotalTime), so any other length skips without
        # allocating the bytes object at all
        if ln != 12 and ln != 9:
            raw = None
        else:
            raw = data[p : p + ln]
        p += ln
        if raw is None or raw not in _LEAN_COUNTERS:
            if data[p] != 0x15:  # field 2 header
                raise _FastMiss
            p += 1
            while data[p] & 0x80:  # zigzag i32 payload
                p += 1
            p += 1
            if data[p] != 0x16:  # field 3 header
                raise _FastMiss
            p += 1
            while data[p] & 0x80:  # zigzag i64 payload
                p += 1
            p += 1
            if data[p] != CT_STOP:
                raise _FastMiss
            pos = p + 1
            return None
        name = intern.get(raw)
        if name is None:
            name = raw.decode("utf-8")
            if len(intern) < _INTERN_CAP:
                intern[raw] = name
        if data[p] != 0x15:  # field 2: i32, delta 1 (enum: single byte)
            raise _FastMiss
        p += 1
        n = data[p]
        p += 1
        if n & 0x80:
            raise _FastMiss
        ctype = (n >> 1) ^ -(n & 1)
        if data[p] != 0x16:  # field 3: i64, delta 1
            raise _FastMiss
        p += 1
        shift = n = 0
        while True:
            b = data[p]
            p += 1
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        value = (n >> 1) ^ -(n & 1)
        if data[p] != CT_STOP:
            raise _FastMiss
        pos = p + 1
        return TCounter(name, ctype, value)

    def node(keep_info: bool) -> TRuntimeProfileNode:
        nonlocal pos
        out = TRuntimeProfileNode("")
        p = pos
        # field 1: binary name, delta 1
        if data[p] != 0x18:
            raise _FastMiss
        p += 1
        ln = data[p]
        p += 1
        if ln & 0x80:  # node names are short in practice; bail if not
            raise _FastMiss
        raw = data[p : p + ln]
        p += ln
        name = intern.get(raw)
        if name is None:
            name = raw.decode("utf-8")
            if len(intern) < _INTERN_CAP:
                intern[raw] = name
        out.name = name
        # field 2: i32 num_children, delta 1
        if data[p] != 0x15:
            raise _FastMiss
        p += 1
        n = data[p]
        p += 1
        if n & 0x80:
            shift = 7
            n &= 0x7F
            while True:
                b = data[p]
                p += 1
                n |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        out.num_children = (n >> 1) ^ -(n & 1)
        # field 3: list<TCounter>, delta 1
        if data[p] != 0x19:
            raise _FastMiss
        p += 1
        h = data[p]
        p += 1
        if h & 0x0F != CT_STRUCT:
            raise _FastMiss
        size = h >> 4
        if size == 0xF:
            size = shift = 0
            while True:
                b = data[p]
                p += 1
                size |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        if size:
            pos = p
            kept = []
            for _ in range(size):
                c = counter()
                if c is not None:
                    kept.append(c)
            out.counters = kept
            p = pos
        # field 4: i64 metadata, delta 1
        if data[p] != 0x16:
            raise _FastMiss
        p += 1
        n = data[p]
        p += 1
        if n & 0x80:
            shift = 7
            n &= 0x7F
            while True:
                b = data[p]
                p += 1
                n |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        out.metadata = (n >> 1) ^ -(n & 1)
        # field 5: bool indent, delta 1
        h = data[p]
        p += 1
        if h == 0x11:
            out.indent = True
        elif h == 0x12:
            out.indent = False
        else:
            raise _FastMiss
        # field 6: map<string,string> info_strings, delta 1
        if data[p] != 0x1B:
            raise _FastMiss
        p += 1
        n = data[p]
        p += 1
        if n & 0x80:
            shift = 7
            n &= 0x7F
            while True:
                b = data[p]
                p += 1
                n |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        if n:
            if data[p] != (CT_BINARY << 4) | CT_BINARY:
                raise _FastMiss
            if not keep_info:
                # only the Summary node's info strings are ever read
                # (profiles.parse_profile: tree.nodes[1].info_strings);
                # instance-node info is harvested but never emitted.
                # Inlined skip: 2n strings per node through a closure-free
                # loop (skip_s costs two closure calls per string, ~130
                # strings/profile — measurable at 150k profiles)
                q = p + 1
                for _ in range(2 * n):
                    ln = data[q]
                    q += 1
                    if ln & 0x80:
                        ln &= 0x7F
                        shift = 7
                        while True:
                            b = data[q]
                            q += 1
                            ln |= (b & 0x7F) << shift
                            if not b & 0x80:
                                break
                            shift += 7
                    q += ln
                p = q
            else:
                pos = p + 1
                out.info_strings = {ri(): rs() for _ in range(n)}
                p = pos
        # field 7: list<string> display order, delta 1
        if data[p] != 0x19:
            raise _FastMiss
        h = data[p + 1]
        q = p + 2
        if h & 0x0F != CT_BINARY:
            raise _FastMiss
        size = h >> 4
        if size == 0xF:
            size = shift = 0
            while True:
                b = data[q]
                q += 1
                size |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        for _ in range(size):  # closure-free string skip
            ln = data[q]
            q += 1
            if ln & 0x80:
                ln &= 0x7F
                shift = 7
                while True:
                    b = data[q]
                    q += 1
                    ln |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
            q += ln
        p = q
        # field 8: map<string,set<string>> child counters, delta 1
        if data[p] != 0x1B:
            raise _FastMiss
        p += 1
        n = data[p]
        p += 1
        if n & 0x80:
            shift = 7
            n &= 0x7F
            while True:
                b = data[p]
                p += 1
                n |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        if n:
            if data[p] != (CT_BINARY << 4) | CT_SET:
                raise _FastMiss
            q = p + 1
            for _ in range(n):  # key string, then set<string>
                remaining = 1
                first = True
                while remaining:
                    ln = data[q]
                    q += 1
                    if ln & 0x80:
                        ln &= 0x7F
                        shift = 7
                        while True:
                            b = data[q]
                            q += 1
                            ln |= (b & 0x7F) << shift
                            if not b & 0x80:
                                break
                            shift += 7
                    q += ln
                    remaining -= 1
                    if first:  # after the key: read the set header
                        first = False
                        h = data[q]
                        q += 1
                        if h & 0x0F != CT_BINARY:
                            raise _FastMiss
                        remaining = h >> 4
                        if remaining == 0xF:
                            remaining = shift = 0
                            while True:
                                b = data[q]
                                q += 1
                                remaining |= (b & 0x7F) << shift
                                if not b & 0x80:
                                    break
                                shift += 7
            p = q
        # --- optional tail: fields 9/10 then STOP ---
        pos = p
        last = 8
        while True:
            h = data[pos]
            pos += 1
            if h == CT_STOP:
                return out
            delta, ftype = h >> 4, h & 0x0F
            if delta == 0:
                raise _FastMiss
            last += delta
            if last == 9 and ftype == CT_LIST:
                seqs = []
                for _ in range(coll(CT_STRUCT)):
                    if data[pos] != 0x18:
                        raise _FastMiss
                    pos += 1
                    name = ri()
                    if name != _LEAN_EVENT_SEQ:
                        # only "Query Timeline" is read (parse_profile's
                        # timeline scan); skip the rest without decoding
                        if data[pos] != 0x19:
                            raise _FastMiss
                        pos += 1
                        for _ in range(coll(CT_I64)):
                            skip_v()
                        if data[pos] != 0x19:
                            raise _FastMiss
                        pos += 1
                        for _ in range(coll(CT_BINARY)):
                            skip_s()
                        if data[pos] != CT_STOP:
                            raise _FastMiss
                        pos += 1
                        continue
                    if data[pos] != 0x19:  # field 2: list<i64>
                        raise _FastMiss
                    pos += 1
                    tstamps = [rz() for _ in range(coll(CT_I64))]
                    if data[pos] != 0x19:  # field 3: list<string>
                        raise _FastMiss
                    pos += 1
                    labels = [ri() for _ in range(coll(CT_BINARY))]
                    if data[pos] != CT_STOP:
                        raise _FastMiss
                    pos += 1
                    seqs.append(TEventSequence(name, tstamps, labels))
                out.event_sequences = seqs
            elif last == 10 and ftype == CT_LIST:
                # materialized (not skipped) since the time-series
                # harvest (profiles.parsed_time_series) consumes field 10;
                # the payload is tiny (one short counter per instance node)
                tscs = []
                for _ in range(coll(CT_STRUCT)):
                    if data[pos] != 0x18:
                        raise _FastMiss
                    pos += 1
                    name = ri()
                    if data[pos] != 0x15:
                        raise _FastMiss
                    pos += 1
                    ctype = rz()
                    if data[pos] != 0x15:
                        raise _FastMiss
                    pos += 1
                    period = rz()
                    if data[pos] != 0x19:
                        raise _FastMiss
                    pos += 1
                    values = [rz() for _ in range(coll(CT_I64))]
                    if data[pos] != CT_STOP:
                        raise _FastMiss
                    pos += 1
                    tscs.append(
                        TTimeSeriesCounter(name, ctype, period, values))
                out.time_series_counters = tscs
            else:
                raise _FastMiss

    try:
        if data[pos] != (1 << 4) | CT_LIST:  # tree field 1: list<struct>
            raise _FastMiss
        pos += 1
        # only the Summary node (index 1) keeps info strings
        nodes = [node(i == 1) for i in range(coll(CT_STRUCT))]
        if data[pos] != CT_STOP:
            raise _FastMiss
        return TRuntimeProfileTree(nodes)
    except IndexError as e:  # truncated input on the fast path
        raise _FastMiss from e
