"""S1/S2: native reader for Java-serialized JedAI datasets.

Every real dataset of the reference ships as JDK ``ObjectOutputStream``
files — ``List<EntityProfile>`` for the entities and ``Set<IdDuplicates>``
for the ground truth (read at ``blockingWorkflowsL1L2L3/src/l1/
TokenBlocking.java:52-62`` and ``nnmethods/minhashLSH/src/minhash/
Reader.java:13-21`` via JedAI's ``EntitySerializationReader`` /
``GtSerializationReader``). This module parses the files WITHOUT a JVM: a
minimal pure-Python decoder for the public Java Object Serialization
Stream Protocol (the ``java.io.ObjectStreamConstants`` grammar), covering
the subset those files use — plain ``SC_SERIALIZABLE`` classes
(EntityProfile, Attribute, IdDuplicates), the JDK collections with custom
``writeObject`` (ArrayList, HashSet, LinkedList, HashMap), strings with
back-references, and block-data segments.

Serialized class shapes (read with ``javap -p`` from the bundled
``jedai-core-3.01-SNAPSHOT.jar``, the exact build the drivers link
against):

* ``org.scify.jedai.datamodel.EntityProfile``: ``Set<Attribute>
  attributes``, ``String entityUrl``;
* ``org.scify.jedai.datamodel.Attribute``: ``String name, value``;
* ``org.scify.jedai.datamodel.IdDuplicates``: ``int entityId1, entityId2``
  (positional indices into the profile lists).

Scale note: a Java serialization stream is one sequential byte stream by
format design — it cannot be split the way parquet row groups can, so
ingestion is a ONE-PASS driver-side conversion (exactly what the
reference's own reader does on a single JVM heap), after which everything
downstream is distributed. ``profiles_to_parquet`` streams batches through
pyarrow so peak memory is one batch, not the corpus; repeated attribute
names arrive as ``TC_REFERENCE`` back-refs and stay interned.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

# ObjectStreamConstants (public JDK API)
_MAGIC = 0xACED
_VERSION = 5
TC_NULL = 0x70
TC_REFERENCE = 0x71
TC_CLASSDESC = 0x72
TC_OBJECT = 0x73
TC_STRING = 0x74
TC_ARRAY = 0x75
TC_CLASS = 0x76
TC_BLOCKDATA = 0x77
TC_ENDBLOCKDATA = 0x78
TC_RESET = 0x79
TC_BLOCKDATALONG = 0x7A
TC_LONGSTRING = 0x7C
TC_PROXYCLASSDESC = 0x7D
TC_ENUM = 0x7E
_BASE_HANDLE = 0x7E0000

SC_WRITE_METHOD = 0x01
SC_SERIALIZABLE = 0x02
SC_EXTERNALIZABLE = 0x04
SC_BLOCK_DATA = 0x08
SC_ENUM = 0x10

_PRIM = {
    "B": (">b", 1), "C": (">H", 2), "D": (">d", 8), "F": (">f", 4),
    "I": (">i", 4), "J": (">q", 8), "S": (">h", 2), "Z": ("?", 1),
}


def _mutf8(data: bytes) -> str:
    """Modified UTF-8 (JVM flavor): NUL as C0 80, supplementary chars as
    CESU-8 surrogate pairs."""
    s = data.replace(b"\xc0\x80", b"\x00").decode("utf-8", "surrogatepass")
    return s.encode("utf-16", "surrogatepass").decode("utf-16")


@dataclass
class JavaClassDesc:
    name: str
    suid: int
    flags: int
    fields: list[tuple[str, str]]       # (typecode, fieldName)
    parent: "JavaClassDesc | None"


@dataclass
class JavaObject:
    """Decoded object: default-serialized fields by name, plus the raw
    objectAnnotation items (custom writeObject payload) per class —
    block-data segments as ``bytes``, nested objects as decoded values."""

    class_name: str
    fields: dict[str, Any] = field(default_factory=dict)
    annotations: list[Any] = field(default_factory=list)

    def annotation_objects(self) -> list[Any]:
        """The non-blockdata annotation items — for the JDK collections
        (ArrayList/HashSet/LinkedList) these are exactly the elements."""
        return [a for a in self.annotations if not isinstance(a, bytes)]


# class_name -> builder(fields, annotation_items) -> compact value; used to
# turn per-row objects into tuples during the parse instead of keeping
# JavaObject graphs for millions of rows
Reducer = Callable[[dict[str, Any], list[Any]], Any]


class JavaDeserializer:
    """Decoder for the subset of the stream grammar the JedAI files use.

    Unknown ``writeObject`` payloads are preserved verbatim on
    ``JavaObject.annotations`` rather than rejected — the caller decides
    how to interpret them (for ArrayList/HashSet the elements simply ARE
    the annotation's object items, after ArrayList's capacity block)."""

    def __init__(self, data: bytes, reducers: dict[str, Reducer] | None = None):
        self._b = data
        self._p = 0
        self._handles: list[Any] = []
        self._reducers = reducers or {}
        magic, version = self._unpack(">HH")
        if magic != _MAGIC or version != _VERSION:
            raise ValueError(
                f"not a Java serialization stream (magic={magic:#x} version={version})"
            )

    # ---------------------------------------------------------- primitives
    def _take(self, n: int) -> bytes:
        out = self._b[self._p : self._p + n]
        if len(out) != n:
            raise EOFError("truncated stream")
        self._p += n
        return out

    def _unpack(self, fmt: str):
        vals = struct.unpack(fmt, self._take(struct.calcsize(fmt)))
        return vals if len(vals) > 1 else vals[0]

    def _utf(self) -> str:
        return _mutf8(self._take(self._unpack(">H")))

    def _new_handle(self, obj: Any) -> int:
        self._handles.append(obj)
        return len(self._handles) - 1

    # ------------------------------------------------------------- content
    def read_object(self) -> Any:
        tc = self._take(1)[0]
        if tc == TC_NULL:
            return None
        if tc == TC_REFERENCE:
            return self._handles[self._unpack(">i") - _BASE_HANDLE]
        if tc == TC_STRING:
            s = self._utf()
            self._new_handle(s)
            return s
        if tc == TC_LONGSTRING:
            n = self._unpack(">q")
            s = _mutf8(self._take(n))
            self._new_handle(s)
            return s
        if tc == TC_OBJECT:
            return self._read_new_object()
        if tc == TC_ARRAY:
            return self._read_array()
        if tc == TC_ENUM:
            desc = self._read_class_desc()
            slot = self._new_handle(None)
            name = self.read_object()
            val = (desc.name if desc else "?", name)
            self._handles[slot] = val
            return val
        if tc == TC_CLASS:
            desc = self._read_class_desc()
            self._new_handle(desc)
            return desc
        if tc in (TC_CLASSDESC, TC_PROXYCLASSDESC):
            self._p -= 1
            return self._read_class_desc()
        if tc == TC_RESET:
            # ObjectOutputStream.reset() invalidates every back-reference
            # handle; none of the JedAI writers emit it, and honoring it
            # would require rebuilding the handle table mid-stream.
            raise ValueError(
                f"TC_RESET at offset {self._p - 1}: stream handle resets "
                "are not supported by this decoder"
            )
        raise ValueError(f"unsupported typecode {tc:#x} at offset {self._p - 1}")

    def _read_class_desc(self) -> JavaClassDesc | None:
        tc = self._take(1)[0]
        if tc == TC_NULL:
            return None
        if tc == TC_REFERENCE:
            return self._handles[self._unpack(">i") - _BASE_HANDLE]
        if tc == TC_PROXYCLASSDESC:
            raise ValueError("dynamic proxy class descriptors not supported")
        if tc != TC_CLASSDESC:
            raise ValueError(f"expected classDesc, got {tc:#x}")
        name = self._utf()
        suid = self._unpack(">q")
        desc = JavaClassDesc(name, suid, 0, [], None)
        self._new_handle(desc)
        desc.flags = self._take(1)[0]
        n_fields = self._unpack(">H")
        for _ in range(n_fields):
            typecode = chr(self._take(1)[0])
            fname = self._utf()
            if typecode in ("L", "["):
                self.read_object()  # field's class-name string (interned)
            desc.fields.append((typecode, fname))
        self._read_annotation_items()  # classAnnotation (normally empty)
        desc.parent = self._read_class_desc()
        return desc

    def _read_annotation_items(self) -> list[Any]:
        items: list[Any] = []
        while True:
            tc = self._take(1)[0]
            if tc == TC_ENDBLOCKDATA:
                return items
            if tc == TC_BLOCKDATA:
                items.append(self._take(self._take(1)[0]))
            elif tc == TC_BLOCKDATALONG:
                items.append(self._take(self._unpack(">i")))
            else:
                self._p -= 1
                items.append(self.read_object())

    def _read_field_values(self, desc: JavaClassDesc) -> dict[str, Any]:
        out: dict[str, Any] = {}
        for typecode, fname in desc.fields:
            if typecode in ("L", "["):
                out[fname] = self.read_object()
            else:
                fmt, _ = _PRIM[typecode]
                v = self._unpack(fmt) if fmt != "?" else bool(self._take(1)[0])
                out[fname] = chr(v) if typecode == "C" else v
        return out

    def _read_new_object(self) -> Any:
        desc = self._read_class_desc()
        if desc is None:
            raise ValueError("TC_OBJECT with null class descriptor")
        slot = self._new_handle(None)
        obj = JavaObject(desc.name)
        self._handles[slot] = obj
        # classdata, superclass FIRST (the wire order)
        chain: list[JavaClassDesc] = []
        d: JavaClassDesc | None = desc
        while d is not None:
            chain.append(d)
            d = d.parent
        for d in reversed(chain):
            if d.flags & SC_SERIALIZABLE:
                vals = self._read_field_values(d)
                # Field values are keyed by NAME across the whole class
                # chain; a subclass shadowing a same-named superclass field
                # would silently overwrite it (fine for the JedAI classes,
                # a trap for a generic decoder) — fail loudly instead.
                dup = set(vals) & set(obj.fields)
                if dup:
                    raise ValueError(
                        f"duplicate field name(s) {sorted(dup)} across the "
                        f"class chain of {desc.name!r} — per-class field "
                        "keying is not implemented"
                    )
                obj.fields.update(vals)
                if d.flags & SC_WRITE_METHOD:
                    obj.annotations.extend(self._read_annotation_items())
            elif d.flags & SC_EXTERNALIZABLE:
                if not (d.flags & SC_BLOCK_DATA):
                    raise ValueError(
                        f"pre-PROTOCOL_VERSION_2 externalizable {d.name!r} unsupported"
                    )
                obj.annotations.extend(self._read_annotation_items())
        reducer = self._reducers.get(desc.name)
        if reducer is not None:
            reduced = reducer(obj.fields, obj.annotation_objects())
            self._handles[slot] = reduced
            return reduced
        return obj

    def _read_array(self) -> Any:
        desc = self._read_class_desc()
        slot = self._new_handle(None)
        n = self._unpack(">i")
        comp = (desc.name if desc else "[?")[1:2]
        if comp in _PRIM:
            fmt, width = _PRIM[comp]
            vals = list(struct.unpack(f">{n}{fmt[-1]}", self._take(n * width)))
        else:
            vals = [self.read_object() for _ in range(n)]
        self._handles[slot] = vals
        return vals


# -------------------------------------------------- JedAI file decoders

_PROFILE_CLASS = "org.scify.jedai.datamodel.EntityProfile"
_ATTRIBUTE_CLASS = "org.scify.jedai.datamodel.Attribute"
_GT_CLASS = "org.scify.jedai.datamodel.IdDuplicates"


def _collection_elements(obj: Any) -> list[Any]:
    """Elements of a serialized JDK collection (ArrayList/HashSet/
    LinkedList/...): the object items of its writeObject annotation."""
    if isinstance(obj, list):
        return obj
    if isinstance(obj, JavaObject):
        return obj.annotation_objects()
    raise ValueError(f"not a decoded collection: {type(obj).__name__}")


def read_profiles_file(path: str) -> list[tuple[str, list[tuple[str, str]]]]:
    """Parse a ``List<EntityProfile>`` file -> [(entityUrl, [(name, value),
    ...])], list position = the reference's integer entity id. Attribute
    tuples keep STREAM order (the HashSet's serialized iteration order —
    deterministic per file, not semantically ordered)."""
    reducers: dict[str, Reducer] = {
        _ATTRIBUTE_CLASS: lambda f, a: (f["name"], f["value"]),
        _PROFILE_CLASS: lambda f, a: (
            f["entityUrl"],
            _collection_elements(f["attributes"]),
        ),
    }
    with open(path, "rb") as fh:
        data = fh.read()
    top = JavaDeserializer(data, reducers).read_object()
    return _collection_elements(top)


def read_gt_file(path: str) -> list[tuple[int, int]]:
    """Parse a ``Set<IdDuplicates>`` ground-truth file -> [(entityId1,
    entityId2), ...] in stream order."""
    reducers: dict[str, Reducer] = {
        _GT_CLASS: lambda f, a: (f["entityId1"], f["entityId2"]),
    }
    with open(path, "rb") as fh:
        data = fh.read()
    top = JavaDeserializer(data, reducers).read_object()
    return _collection_elements(top)


def profile_rows(path: str) -> Iterator[tuple[int, str, list[dict]]]:
    """(entity_id, doc_id, spans) rows in the engine's interleaved data
    model: each attribute becomes a text span (kind=attribute name,
    media_ref=None, offset=stream position)."""
    for idx, (url, attrs) in enumerate(read_profiles_file(path)):
        spans = [
            {"kind": name, "text": value, "media_ref": None, "offset": i}
            for i, (name, value) in enumerate(attrs)
        ]
        yield idx, url, spans


def profiles_to_parquet(path: str, out_path: str, batch_rows: int = 50_000) -> int:
    """One-pass conversion of a profiles file to a parquet docs table
    (entity_id long, doc_id string, spans array<struct<kind,text,media_ref,
    offset>>); returns the row count. Batched through pyarrow so peak
    memory is one batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema(
        [("entity_id", pa.int64()), ("doc_id", pa.string()),
         ("spans", pa.list_(span_t))]
    )
    writer = pq.ParquetWriter(out_path, schema)
    n = 0
    buf: list[tuple[int, str, list[dict]]] = []
    try:
        for row in profile_rows(path):
            buf.append(row)
            if len(buf) >= batch_rows:
                writer.write_batch(_to_batch(buf, schema))
                n += len(buf)
                buf = []
        if buf:
            writer.write_batch(_to_batch(buf, schema))
            n += len(buf)
    finally:
        writer.close()
    return n


def _to_batch(rows, schema):
    import pyarrow as pa

    return pa.record_batch(
        [
            pa.array([r[0] for r in rows], schema.field("entity_id").type),
            pa.array([r[1] for r in rows], schema.field("doc_id").type),
            pa.array([r[2] for r in rows], schema.field("spans").type),
        ],
        schema=schema,
    )


def _staging_dir() -> str:
    """Where converted sources are staged by default: a directory only the
    current user can write — ``~/.cache``, else a per-user ``0700``
    directory under the system temp dir."""
    import tempfile

    for d in (
        os.path.join(os.path.expanduser("~"), ".cache", "continuousfilteringbenchmark_spark"),
        os.path.join(tempfile.gettempdir(), f"continuousfilteringbenchmark_spark-{os.getuid()}"),
    ):
        try:
            os.makedirs(d, mode=0o700, exist_ok=True)
        except OSError:
            continue
        st = os.stat(d)
        if st.st_uid == os.getuid() and os.access(d, os.W_OK):
            return d
    raise OSError("no user-private staging directory; pass staging_path")


def read_entity_profiles(
    spark, path: str, staging_path: str | None = None, overwrite: bool = False
):
    """S1 as a Spark source: convert the serialized stream once (see the
    module scale note), then hand back a distributed parquet-backed
    DataFrame.

    The staged parquet is REUSED when it already exists (pass
    ``overwrite=True`` to force reconversion) — repeated reads must not
    re-pay the driver-side stream parse. ``staging_path`` defaults to a
    file in a user-private directory (``_staging_dir``), NOT next to the
    source: dataset directories are commonly read-only. The default name is
    keyed by the source's path, size and mtime, so a modified source is
    converted again. The conversion writes a temp file in the staging
    directory and ``os.replace``s it into place, so a reader never sees a
    half-written file."""
    import hashlib
    import shutil
    import tempfile

    if staging_path is None:
        st = os.stat(path)
        key = f"{os.path.abspath(path)}\0{st.st_size}\0{st.st_mtime_ns}"
        digest = hashlib.md5(key.encode()).hexdigest()[:12]
        staging_path = os.path.join(
            _staging_dir(), f"javaser_{os.path.basename(path)}_{digest}.parquet"
        )
    if overwrite or not os.path.exists(staging_path):
        parent = os.path.dirname(os.path.abspath(staging_path))
        os.makedirs(parent, exist_ok=True)
        tmp_dir = tempfile.mkdtemp(prefix=".javaser-", dir=parent)
        try:
            tmp = os.path.join(tmp_dir, "staged.parquet")
            profiles_to_parquet(path, tmp)
            os.replace(tmp, staging_path)
        finally:
            shutil.rmtree(tmp_dir, ignore_errors=True)
    return spark.read.parquet(staging_path)


def read_gt_duplicates(spark, path: str):
    """S2 as a Spark source: ground-truth pairs (left_id, right_id) as the
    reference's positional int ids."""
    rows = read_gt_file(path)
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in rows], "left_id int, right_id int"
    )
