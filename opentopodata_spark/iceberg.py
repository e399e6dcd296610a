"""Pure-Python Apache Iceberg v2 tables: metadata JSON + Avro manifest
lists + Avro manifests over parquet data files, in the HadoopCatalog
file layout (``metadata/vN.metadata.json`` + ``version-hint.text``).

Why: the north rule names an Iceberg table of interleaved documents and
Iceberg-checkpointed lineage, but this sandbox has no
iceberg-spark-runtime jars. The formats themselves are fully published
(https://iceberg.apache.org/spec/ — table spec v2; Avro 1.11 Object
Container File spec), so — like the SQLite walker in this
repo — the metadata layer is implemented from spec: snapshots,
manifest lists, manifests, partition tuples, sequence numbers,
append/delete commits, time travel, and metadata-only partition
pruning/listing. Spark remains the data plane (parquet scan over the
snapshot's live files, ``basePath`` restoring identity-partition
columns); this module is the metadata plane a catalog would provide.

Scale notes: commits are O(manifests + files touched), never O(rows) —
per-file record counts come from parquet footers of the files the
commit itself wrote. Partition listings (``partition_values``) and
scan planning read ONLY Avro metadata — no data-file IO, exactly the
property that makes Iceberg work at 10^12 rows. A delete rewrites the
(driver-sized) manifest entry lists, the standard copy-on-write
metadata path.

No reference analog (the reference serves HTTP from local rasters,
/root/reference/opentopodata/backend.py); this implements the engine's
own checkpoint/lineage contract (SURVEY.md SNK5).
"""

from __future__ import annotations

import io
import json
import math
import os
import struct
import time
import uuid

__all__ = [
    "write_ocf", "read_ocf", "IcebergTable", "append_dataframe",
    "read_table", "table_exists", "rewrite_data_files",
    "expire_snapshots", "rollback_to_snapshot",
]

# ---------------------------------------------------------------------------
# Minimal Avro: zig-zag varints + Object Container File (null codec).
# Supports the types Iceberg manifests need: int/long/string/bytes/
# boolean/double/null, unions, records, arrays, maps.
# ---------------------------------------------------------------------------

_MAGIC = b"Obj\x01"


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_zigzag(buf: io.BytesIO) -> int:
    shift = 0
    u = 0
    while True:
        c = buf.read(1)
        if not c:
            raise ValueError("Avro: truncated varint")
        b = c[0]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1)


def _encode(schema, value, out: bytearray) -> None:
    if isinstance(schema, list):  # union: branch index + value
        for i, branch in enumerate(schema):
            bt = branch.get("type") if isinstance(branch, dict) else branch
            if value is None and bt == "null":
                out += _zigzag(i)
                return
            if value is not None and bt != "null":
                out += _zigzag(i)
                _encode(branch, value, out)
                return
        raise ValueError(f"Avro: no union branch for {value!r} in {schema}")
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return
    if t in ("long", "int"):
        out += _zigzag(int(value))
    elif t == "boolean":
        out.append(1 if value else 0)
    elif t == "double":
        out += struct.pack("<d", float(value))
    elif t == "float":
        out += struct.pack("<f", float(value))
    elif t == "string":
        raw = value.encode("utf-8")
        out += _zigzag(len(raw))
        out += raw
    elif t in ("bytes", "fixed"):
        raw = bytes(value)
        if t == "fixed":
            out += raw
        else:
            out += _zigzag(len(raw))
            out += raw
    elif t == "record":
        for f in schema["fields"]:
            _encode(f["type"], value.get(f["name"]), out)
    elif t == "array":
        items = list(value or [])
        if items:
            out += _zigzag(len(items))
            for it in items:
                _encode(schema["items"], it, out)
        out += _zigzag(0)
    elif t == "map":
        pairs = dict(value or {})
        if pairs:
            out += _zigzag(len(pairs))
            for k, v in pairs.items():
                _encode("string", k, out)
                _encode(schema["values"], v, out)
        out += _zigzag(0)
    else:
        raise ValueError(f"Avro: unsupported type {t!r}")


def _decode(schema, buf: io.BytesIO):
    if isinstance(schema, list):
        idx = _read_zigzag(buf)
        return _decode(schema[idx], buf)
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return None
    if t in ("long", "int"):
        return _read_zigzag(buf)
    if t == "boolean":
        return buf.read(1) != b"\x00"
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "string":
        n = _read_zigzag(buf)
        return buf.read(n).decode("utf-8")
    if t == "bytes":
        n = _read_zigzag(buf)
        return buf.read(n)
    if t == "fixed":
        return buf.read(int(schema["size"]))
    if t == "record":
        return {f["name"]: _decode(f["type"], buf) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = _read_zigzag(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte size prefix
                _read_zigzag(buf)
                n = -n
            out.extend(_decode(schema["items"], buf) for _ in range(n))
    if t == "map":
        out = {}
        while True:
            n = _read_zigzag(buf)
            if n == 0:
                return out
            if n < 0:
                _read_zigzag(buf)
                n = -n
            for _ in range(n):
                k = _decode("string", buf)
                out[k] = _decode(schema["values"], buf)
    raise ValueError(f"Avro: unsupported type {t!r}")


def write_ocf(path: str, schema: dict, records: list) -> int:
    """Write an Avro Object Container File (null codec, one block).
    Returns the file length (manifest lists need it)."""
    sync = uuid.uuid4().bytes
    header = bytearray(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": b"null",
    }
    header += _zigzag(len(meta))
    for k, v in meta.items():
        _encode("string", k, header)
        header += _zigzag(len(v))
        header += v
    header += _zigzag(0)
    header += sync
    body = bytearray()
    for rec in records:
        _encode(schema, rec, body)
    blob = bytearray(header)
    if records:
        blob += _zigzag(len(records))
        blob += _zigzag(len(body))
        blob += body
        blob += sync
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, path)
    return len(blob)


def read_ocf(path: str) -> tuple[dict, list]:
    with open(path, "rb") as f:
        buf = io.BytesIO(f.read())
    if buf.read(4) != _MAGIC:
        raise ValueError(f"{path}: not an Avro object container file")
    meta = {}
    while True:
        n = _read_zigzag(buf)
        if n == 0:
            break
        if n < 0:
            _read_zigzag(buf)
            n = -n
        for _ in range(n):
            k = _decode("string", buf)
            vlen = _read_zigzag(buf)
            meta[k] = buf.read(vlen)
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b""):
        raise ValueError(f"{path}: Avro codec {codec!r} not supported")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    sync = buf.read(16)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = _read_zigzag(buf)
        _read_zigzag(buf)  # byte size
        for _ in range(count):
            records.append(_decode(schema, buf))
        if buf.read(16) != sync:
            raise ValueError(f"{path}: Avro sync marker mismatch")
    return schema, records


# ---------------------------------------------------------------------------
# Spark schema -> Iceberg schema JSON (field ids assigned depth-first,
# per the spec's fresh-assignment rule)
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    "string": "string", "long": "long", "integer": "int", "int": "int",
    "double": "double", "float": "float", "boolean": "boolean",
    "binary": "binary", "date": "date", "timestamp": "timestamptz",
    "short": "int", "byte": "int",
}


def _iceberg_type(dt, counter):
    name = dt.typeName()
    if name in _PRIMITIVES:
        return _PRIMITIVES[name]
    if name == "array":
        eid = counter["next"]
        counter["next"] += 1
        return {
            "type": "list", "element-id": eid,
            "element": _iceberg_type(dt.elementType, counter),
            "element-required": not dt.containsNull,
        }
    if name == "struct":
        fields = []
        for f in dt.fields:
            fid = counter["next"]
            counter["next"] += 1
            fields.append({
                "id": fid, "name": f.name, "required": not f.nullable,
                "type": _iceberg_type(f.dataType, counter),
            })
        return {"type": "struct", "fields": fields}
    if name == "decimal":
        return f"decimal({dt.precision}, {dt.scale})"
    raise ValueError(f"Iceberg: unsupported Spark type {name}")


def _schema_from_spark(spark_schema) -> tuple[dict, int]:
    counter = {"next": 1}
    fields = []
    for f in spark_schema.fields:
        fid = counter["next"]
        counter["next"] += 1
        fields.append({
            "id": fid, "name": f.name, "required": not f.nullable,
            "type": _iceberg_type(f.dataType, counter),
        })
    return (
        {"type": "struct", "schema-id": 0, "fields": fields},
        counter["next"] - 1,
    )


# ---------------------------------------------------------------------------
# Manifest / manifest-list Avro schemas (the spec's required v2 fields;
# optional column-stats fields omitted — legal per spec, they are all
# nullable)
# ---------------------------------------------------------------------------

def _partition_record_schema(partition_col: str | None) -> dict:
    fields = []
    if partition_col:
        fields.append({
            "name": partition_col, "type": ["null", "int"],
            "field-id": 1000, "default": None,
        })
    return {"type": "record", "name": "r102", "fields": fields}


def _manifest_schema(partition_col: str | None) -> dict:
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition",
                     "type": _partition_record_schema(partition_col),
                     "field-id": 102},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                ]}},
        ]}


_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ]}


# ---------------------------------------------------------------------------
# The table
# ---------------------------------------------------------------------------

class DataFileInfo:
    """One parquet data file entering a commit."""

    __slots__ = ("path", "partition", "record_count", "file_size")

    def __init__(self, path, partition, record_count, file_size):
        self.path = path
        self.partition = partition  # None or int (identity partition)
        self.record_count = int(record_count)
        self.file_size = int(file_size)


def table_exists(location: str) -> bool:
    return os.path.exists(
        os.path.join(location, "metadata", "version-hint.text"))


def _publish_metadata(meta_dir: str, version: int, meta: dict) -> None:
    """Commit ``meta`` as ``v<version>.metadata.json``, then point
    ``version-hint.text`` at it.

    The metadata file is written under a unique temp name and published
    with ``os.link``, which refuses to replace an existing file -- the
    create-if-absent step of HadoopCatalog. Of two writers that both
    read v<version - 1>, one commits and the other gets FileExistsError
    instead of silently overwriting the first one's snapshot. The link
    is the commit point; the hint only tells readers where to start
    looking (``IcebergTable`` also probes past it)."""
    path = os.path.join(meta_dir, f"v{version}.metadata.json")
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise FileExistsError(
            f"{meta_dir}: v{version}.metadata.json already exists -- a "
            "concurrent commit won; reopen the table and retry") from None
    finally:
        os.remove(tmp)
    hint = os.path.join(meta_dir, "version-hint.text")
    tmp = f"{hint}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, hint)


class IcebergTable:
    """One Iceberg v2 table on a local/posix filesystem, HadoopCatalog
    layout. All state lives in the metadata files — this object is a
    stateless handle and re-reads on construction."""

    def __init__(self, location: str):
        self.location = location
        self.meta_dir = os.path.join(location, "metadata")
        hint = os.path.join(self.meta_dir, "version-hint.text")
        if not os.path.exists(hint):
            raise FileNotFoundError(
                f"{location}: not an Iceberg table (no version-hint.text)")
        with open(hint) as f:
            self.version = int(f.read().strip())
        # a writer that stopped between its commit and the hint bump
        # leaves a newer committed version behind the hint
        while os.path.exists(os.path.join(
                self.meta_dir, f"v{self.version + 1}.metadata.json")):
            self.version += 1
        with open(os.path.join(
                self.meta_dir, f"v{self.version}.metadata.json")) as f:
            self.meta = json.load(f)
        if self.meta.get("format-version") != 2:
            raise ValueError(
                f"{location}: format-version "
                f"{self.meta.get('format-version')} (only v2 supported)")

    # -- creation ----------------------------------------------------------
    @staticmethod
    def create(location: str, spark_schema, partition_col: str | None = None,
               properties: dict | None = None) -> "IcebergTable":
        meta_dir = os.path.join(location, "metadata")
        if table_exists(location):
            raise FileExistsError(f"{location}: table already exists")
        os.makedirs(meta_dir, exist_ok=True)
        schema, last_col = _schema_from_spark(spark_schema)
        spec_fields = []
        if partition_col:
            src = next(
                (f["id"] for f in schema["fields"]
                 if f["name"] == partition_col), None)
            if src is None:
                raise ValueError(
                    f"partition column {partition_col!r} not in schema")
            # partition values are Avro ints in the manifests and parsed
            # with int() from the partition directories on append
            dt = spark_schema[partition_col].dataType
            if dt.typeName() not in ("integer", "short", "byte"):
                raise ValueError(
                    f"partition column {partition_col!r} has type "
                    f"{dt.simpleString()}; only int, smallint and tinyint "
                    "columns can partition a table")
            spec_fields.append({
                "name": partition_col, "transform": "identity",
                "source-id": src, "field-id": 1000,
            })
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": location,
            "last-sequence-number": 0,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [schema],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 1000 if spec_fields else 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": properties or {},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        _publish_metadata(meta_dir, 1, meta)
        return IcebergTable(location)

    # -- introspection -----------------------------------------------------
    @property
    def partition_col(self) -> str | None:
        spec = self.meta["partition-specs"][self.meta["default-spec-id"]]
        return spec["fields"][0]["name"] if spec["fields"] else None

    def current_snapshot_id(self) -> int | None:
        sid = self.meta.get("current-snapshot-id", -1)
        return None if sid in (-1, None) else sid

    def snapshots(self) -> list[dict]:
        return list(self.meta["snapshots"])

    def history(self) -> list[dict]:
        return list(self.meta["snapshot-log"])

    def _snapshot(self, snapshot_id: int | None) -> dict | None:
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
            if snapshot_id is None:
                return None
        for s in self.meta["snapshots"]:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(
            f"{self.location}: no snapshot {snapshot_id} "
            f"(have {[s['snapshot-id'] for s in self.meta['snapshots']]})")

    def snapshot_as_of(self, timestamp_ms: int) -> int | None:
        """Time travel: latest snapshot at or before timestamp_ms."""
        best = None
        for e in self.meta["snapshot-log"]:
            if e["timestamp-ms"] <= timestamp_ms:
                best = e["snapshot-id"]
        return best

    # -- scan planning (metadata only — no data IO) ------------------------
    def live_entries(self, snapshot_id: int | None = None) -> list[dict]:
        snap = self._snapshot(snapshot_id)
        if snap is None:
            return []
        entries = []
        _, manifests = read_ocf(snap["manifest-list"])
        for m in manifests:
            _, recs = read_ocf(m["manifest_path"])
            # v2 delete files (merge-on-read) would be planned as data and
            # resurrect deleted rows: refuse the table instead
            if m.get("content", 0) != 0 or any(
                    r["data_file"].get("content", 0) != 0 for r in recs):
                raise ValueError(
                    f"{self.location}: delete files in {m['manifest_path']} "
                    "(merge-on-read deletes are not supported)")
            entries.extend(r for r in recs if r["status"] != 2)
        return entries

    def live_files(self, snapshot_id: int | None = None,
                   partition_value=None) -> list[str]:
        out = []
        pcol = self.partition_col
        for e in self.live_entries(snapshot_id):
            if partition_value is not None and pcol is not None:
                if e["data_file"]["partition"].get(pcol) != partition_value:
                    continue
            out.append(e["data_file"]["file_path"])
        return sorted(out)

    def partition_values(self, snapshot_id: int | None = None) -> set:
        pcol = self.partition_col
        if pcol is None:
            return set()
        return {
            e["data_file"]["partition"].get(pcol)
            for e in self.live_entries(snapshot_id)
        }

    def record_count(self, snapshot_id: int | None = None) -> int:
        return sum(
            e["data_file"]["record_count"]
            for e in self.live_entries(snapshot_id))

    # -- schema evolution --------------------------------------------------
    def evolve_schema(self, spark_schema) -> bool:
        """Add-column schema evolution: a writer schema that is the
        current schema PLUS new trailing fields commits a new schema
        (fresh field ids continuing from last-column-id, new schema-id,
        current-schema-id updated) alongside the next snapshot. Removed
        or type-changed columns refuse loudly — silent coercion is how
        tables corrupt. Returns True when the schema changed."""
        current = next(
            sc for sc in self.meta["schemas"]
            if sc["schema-id"] == self.meta["current-schema-id"])
        cur_by_name = {f["name"]: f for f in current["fields"]}

        def sig(t):
            # structural type signature, ids stripped
            if isinstance(t, str):
                return t
            if t["type"] == "list":
                return ("list", sig(t["element"]), t["element-required"])
            if t["type"] == "struct":
                return ("struct", tuple(
                    (f["name"], f["required"], sig(f["type"]))
                    for f in t["fields"]))
            return json.dumps(t, sort_keys=True)

        counter = {"next": self.meta["last-column-id"] + 1}
        new_fields = []
        for f in spark_schema.fields:
            if f.name in cur_by_name:
                probe = {"next": 10 ** 9}
                want = _iceberg_type(f.dataType, probe)
                if sig(want) != sig(cur_by_name[f.name]["type"]):
                    raise ValueError(
                        f"schema evolution: column {f.name!r} type "
                        "changed — only ADDING columns is supported")
            else:
                fid = counter["next"]
                counter["next"] += 1
                new_fields.append({
                    "id": fid, "name": f.name,
                    "required": False,  # added columns must be optional
                    "type": _iceberg_type(f.dataType, counter),
                })
        writer_names = {f.name for f in spark_schema.fields}
        missing = [n for n in cur_by_name if n not in writer_names]
        if missing:
            raise ValueError(
                f"schema evolution: writer schema lacks columns "
                f"{missing} — dropping columns is not supported")
        if not new_fields:
            return False
        new_schema = {
            "type": "struct",
            "schema-id": max(
                s["schema-id"] for s in self.meta["schemas"]) + 1,
            "fields": current["fields"] + new_fields,
        }
        self.meta = dict(self.meta)
        self.meta["schemas"] = self.meta["schemas"] + [new_schema]
        self.meta["current-schema-id"] = new_schema["schema-id"]
        self.meta["last-column-id"] = counter["next"] - 1
        # persisted by the append's _commit (same metadata.json write)
        return True

    # -- commits -----------------------------------------------------------
    def _commit(self, new_manifests: list[tuple[str, int, dict]],
                carried: list[dict], operation: str, seq: int,
                snapshot_id: int) -> None:
        """new_manifests: [(path, length, counts)] for this commit;
        carried: prior manifest_file records to keep referencing."""
        ml_name = f"snap-{snapshot_id}-1-{uuid.uuid4()}.avro"
        ml_path = os.path.join(self.meta_dir, ml_name)
        records = []
        for path, length, counts in new_manifests:
            records.append({
                "manifest_path": path, "manifest_length": length,
                "partition_spec_id": 0, "content": 0,
                "sequence_number": seq, "min_sequence_number": counts.get(
                    "min_seq", seq),
                "added_snapshot_id": snapshot_id,
                "added_files_count": counts.get("added", 0),
                "existing_files_count": counts.get("existing", 0),
                "deleted_files_count": counts.get("deleted", 0),
                "added_rows_count": counts.get("added_rows", 0),
                "existing_rows_count": counts.get("existing_rows", 0),
                "deleted_rows_count": counts.get("deleted_rows", 0),
            })
        records.extend(carried)
        write_ocf(ml_path, _MANIFEST_LIST_SCHEMA, records)
        now = int(time.time() * 1000)
        snap = {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": self.current_snapshot_id(),
            "sequence-number": seq,
            "timestamp-ms": now,
            "manifest-list": ml_path,
            "summary": {"operation": operation},
            "schema-id": self.meta["current-schema-id"],
        }
        meta = dict(self.meta)
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now
        meta["current-snapshot-id"] = snapshot_id
        meta["snapshots"] = self.meta["snapshots"] + [snap]
        meta["snapshot-log"] = self.meta["snapshot-log"] + [
            {"timestamp-ms": now, "snapshot-id": snapshot_id}]
        meta["metadata-log"] = self.meta["metadata-log"] + [{
            "timestamp-ms": self.meta["last-updated-ms"],
            "metadata-file": os.path.join(
                self.meta_dir, f"v{self.version}.metadata.json"),
        }]
        _publish_metadata(self.meta_dir, self.version + 1, meta)
        self.version += 1
        self.meta = meta

    def append_files(self, files: list[DataFileInfo]) -> int:
        """Append commit: one new manifest of status=1 entries; prior
        manifests carried in the new manifest list untouched (O(new
        files) work). Returns the new snapshot id."""
        seq = self.meta["last-sequence-number"] + 1
        snapshot_id = int(uuid.uuid4().int % (1 << 62)) + 1
        pcol = self.partition_col
        entries = []
        for fi in files:
            part = {pcol: fi.partition} if pcol else {}
            entries.append({
                "status": 1, "snapshot_id": snapshot_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 0, "file_path": fi.path,
                    "file_format": "PARQUET", "partition": part,
                    "record_count": fi.record_count,
                    "file_size_in_bytes": fi.file_size,
                }})
        mpath = os.path.join(
            self.meta_dir, f"{uuid.uuid4()}-m0.avro")
        mlen = write_ocf(mpath, _manifest_schema(pcol), entries)
        carried = []
        snap = self._snapshot(None)
        if snap is not None:
            _, carried = read_ocf(snap["manifest-list"])
        self._commit(
            [(mpath, mlen, {
                "added": len(files),
                "added_rows": sum(f.record_count for f in files),
            })],
            carried, "append", seq, snapshot_id)
        return snapshot_id

    def delete_partition(self, value) -> int:
        """Copy-on-write delete of one identity-partition value: every
        manifest holding a matching live entry is rewritten with those
        entries marked deleted (status=2) and the rest carried as
        existing (status=0); untouched manifests are carried verbatim.
        Returns the new snapshot id."""
        pcol = self.partition_col
        if pcol is None:
            raise ValueError(f"{self.location}: table is unpartitioned")
        snap = self._snapshot(None)
        if snap is None:
            raise ValueError(f"{self.location}: empty table")
        seq = self.meta["last-sequence-number"] + 1
        snapshot_id = int(uuid.uuid4().int % (1 << 62)) + 1
        _, manifests = read_ocf(snap["manifest-list"])
        new_manifests = []
        carried = []
        schema = _manifest_schema(pcol)
        for m in manifests:
            _, recs = read_ocf(m["manifest_path"])
            live = [r for r in recs if r["status"] != 2]
            hit = [r for r in live
                   if r["data_file"]["partition"].get(pcol) == value]
            if not hit:
                carried.append(m)
                continue
            out = []
            counts = {"existing": 0, "deleted": 0, "existing_rows": 0,
                      "deleted_rows": 0, "min_seq": seq}
            for r in live:
                r = dict(r)
                matched = r["data_file"]["partition"].get(pcol) == value
                r["status"] = 2 if matched else 0
                counts["min_seq"] = min(
                    counts["min_seq"], r.get("sequence_number") or seq)
                if matched:
                    r["snapshot_id"] = snapshot_id
                    counts["deleted"] += 1
                    counts["deleted_rows"] += r["data_file"]["record_count"]
                else:
                    counts["existing"] += 1
                    counts["existing_rows"] += r["data_file"]["record_count"]
                out.append(r)
            mpath = os.path.join(self.meta_dir, f"{uuid.uuid4()}-m0.avro")
            mlen = write_ocf(mpath, schema, out)
            new_manifests.append((mpath, mlen, counts))
        self._commit(new_manifests, carried, "delete", seq, snapshot_id)
        return snapshot_id


# ---------------------------------------------------------------------------
# Spark integration: the data plane
# ---------------------------------------------------------------------------

def _list_parquet(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                out.append(os.path.join(dirpath, n))
    return sorted(out)


def append_dataframe(table: IcebergTable, df, partition_col=None) -> int:
    """Write df as parquet under <table>/data/<commit-uuid>/ (one fresh
    directory per commit — Iceberg data layout is manifest-addressed,
    so no renames or directory merges are ever needed) and commit an
    append snapshot. Per-file record counts come from the parquet
    footers of just-written files: O(files), not O(rows)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    partition_col = partition_col or table.partition_col
    if (partition_col or None) != table.partition_col:
        raise ValueError(
            f"partition_col {partition_col!r} != table spec "
            f"{table.partition_col!r}")
    table.evolve_schema(df.schema)  # add-column evolution (no-op if same)
    staging = os.path.join(table.location, "data", str(uuid.uuid4()))
    if partition_col:
        # identity-partition source columns stay INSIDE the data files
        # (as Iceberg writes them); the directory layout rides a shadow
        # column so Spark's partitionBy doesn't strip the real one
        shadow = "_ice_part"
        writer = (
            df.withColumn(shadow, F.col(partition_col))
            .write.mode("error").partitionBy(shadow)
        )
    else:
        shadow = None
        writer = df.write.mode("error")
    writer.parquet(staging)
    files = []
    for path in _list_parquet(staging):
        part = None
        if shadow:
            for seg in path.split(os.sep):
                if seg.startswith(shadow + "="):
                    part = int(seg.split("=", 1)[1])
        md = pq.ParquetFile(path).metadata
        files.append(DataFileInfo(
            path, part, md.num_rows, os.path.getsize(path)))
    return table.append_files(files)


def rewrite_data_files(spark, table: IcebergTable,
                       target_mb: int = 64) -> dict:
    """Bin-packing compaction (the Iceberg rewrite-data-files
    maintenance action): read the CURRENT live file set, rewrite it
    into ~target_mb files (partition layout preserved), and commit ONE
    'replace' snapshot — new files added, every prior live entry marked
    deleted. Readers of older snapshots are unaffected (their files
    stay on disk until expire_snapshots collects them); a crash before
    the metadata commit leaves only unreferenced staging files.

    Returns {files_before, files_after, rows} (row equality in/out is
    ASSERTED before the commit — a compaction that loses rows must fail
    loudly, the jobs/compact.py discipline)."""
    snap = table._snapshot(None)
    if snap is None:
        raise ValueError(f"{table.location}: empty table")
    files_before = table.live_files()
    rows_before = table.record_count()
    bytes_total = sum(
        e["data_file"]["file_size_in_bytes"]
        for e in table.live_entries())
    n_out = max(1, int(math.ceil(bytes_total / (target_mb * 1024 * 1024))))
    df = spark.read.parquet(*files_before)
    pcol = table.partition_col
    if pcol:
        df = df.repartition(n_out, pcol)
    else:
        df = df.repartition(n_out)

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    staging = os.path.join(table.location, "data", str(uuid.uuid4()))
    if pcol:
        (df.withColumn("_ice_part", F.col(pcol))
         .write.mode("error").partitionBy("_ice_part").parquet(staging))
    else:
        df.write.mode("error").parquet(staging)
    new_files = []
    for path in _list_parquet(staging):
        part = None
        if pcol:
            for seg in path.split(os.sep):
                if seg.startswith("_ice_part="):
                    part = int(seg.split("=", 1)[1])
        md = pq.ParquetFile(path).metadata
        new_files.append(DataFileInfo(
            path, part, md.num_rows, os.path.getsize(path)))
    rows_after = sum(f.record_count for f in new_files)
    if rows_after != rows_before:
        raise RuntimeError(
            f"compaction row mismatch: {rows_before} live rows but "
            f"{rows_after} rewritten — refusing to commit")

    seq = table.meta["last-sequence-number"] + 1
    snapshot_id = int(uuid.uuid4().int % (1 << 62)) + 1
    schema = _manifest_schema(pcol)
    # one manifest of the new files + rewrites of every old manifest
    # with its live entries marked deleted
    add_entries = []
    for fi in new_files:
        part = {pcol: fi.partition} if pcol else {}
        add_entries.append({
            "status": 1, "snapshot_id": snapshot_id,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": 0, "file_path": fi.path,
                "file_format": "PARQUET", "partition": part,
                "record_count": fi.record_count,
                "file_size_in_bytes": fi.file_size,
            }})
    mpath = os.path.join(table.meta_dir, f"{uuid.uuid4()}-m0.avro")
    mlen = write_ocf(mpath, schema, add_entries)
    new_manifests = [(mpath, mlen, {
        "added": len(new_files),
        "added_rows": rows_after,
    })]
    _, manifests = read_ocf(snap["manifest-list"])
    for m in manifests:
        _, recs = read_ocf(m["manifest_path"])
        live = [r for r in recs if r["status"] != 2]
        if not live:
            continue
        out = []
        counts = {"deleted": 0, "deleted_rows": 0, "min_seq": seq}
        for r in live:
            r = dict(r)
            r["status"] = 2
            r["snapshot_id"] = snapshot_id
            counts["deleted"] += 1
            counts["deleted_rows"] += r["data_file"]["record_count"]
            counts["min_seq"] = min(
                counts["min_seq"], r.get("sequence_number") or seq)
            out.append(r)
        dpath = os.path.join(table.meta_dir, f"{uuid.uuid4()}-m0.avro")
        dlen = write_ocf(dpath, schema, out)
        new_manifests.append((dpath, dlen, counts))
    table._commit(new_manifests, [], "replace", seq, snapshot_id)
    return {
        "files_before": len(files_before),
        "files_after": len(new_files),
        "rows": rows_after,
        "snapshot_id": snapshot_id,
    }


def rollback_to_snapshot(table: IcebergTable, snapshot_id: int) -> None:
    """Roll the table's CURRENT pointer back to an existing snapshot
    (the Iceberg rollback maintenance action): metadata-only — later
    snapshots stay in the log (expire_snapshots collects them), so the
    operation is itself reversible until they are expired."""
    target = table._snapshot(snapshot_id)  # raises on unknown id
    now = int(time.time() * 1000)
    meta = dict(table.meta)
    meta["current-snapshot-id"] = target["snapshot-id"]
    meta["last-updated-ms"] = now
    meta["snapshot-log"] = table.meta["snapshot-log"] + [
        {"timestamp-ms": now, "snapshot-id": target["snapshot-id"]}]
    _publish_metadata(table.meta_dir, table.version + 1, meta)
    table.version += 1
    table.meta = meta


def expire_snapshots(table: IcebergTable, keep_last: int = 1,
                     older_than_ms: int | None = None) -> dict:
    """Snapshot expiration (the Iceberg expire-snapshots maintenance
    action): drop all but the newest ``keep_last`` snapshots (always
    keeping the current one; with ``older_than_ms``, only snapshots
    strictly older also expire), then garbage-collect every manifest
    list, manifest, and DATA file referenced only by expired snapshots.
    Bounds metadata growth for long-lived checkpoint tables — without
    it a 10^12-row pipeline's table accretes one snapshot per commit
    forever. Time travel to an expired snapshot refuses afterwards."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = table.snapshots()
    if not snaps:
        return {"expired": 0, "data_files_deleted": 0}
    ordered = sorted(snaps, key=lambda s: s["sequence-number"])
    keep = {s["snapshot-id"] for s in ordered[-keep_last:]}
    keep.add(table.current_snapshot_id())
    if older_than_ms is not None:
        for s in ordered:
            if s["timestamp-ms"] >= older_than_ms:
                keep.add(s["snapshot-id"])
    expired = [s for s in ordered if s["snapshot-id"] not in keep]
    if not expired:
        return {"expired": 0, "data_files_deleted": 0}

    def _reachable(snapshot_ids, live_only):
        """Metadata + data files reachable from the given snapshots.
        live_only: count only status!=2 data entries — a RETAINED
        snapshot's tombstone (status=2) entries must NOT protect a file
        no retained snapshot can read (Iceberg expire semantics)."""
        mlists, mans, datas = set(), set(), set()
        for s in ordered:
            if s["snapshot-id"] not in snapshot_ids:
                continue
            mlists.add(s["manifest-list"])
            _, manifests = read_ocf(s["manifest-list"])
            for m in manifests:
                mans.add(m["manifest_path"])
                _, recs = read_ocf(m["manifest_path"])
                for r in recs:
                    if live_only and r["status"] == 2:
                        continue
                    datas.add(r["data_file"]["file_path"])
        return mlists, mans, datas

    keep_ml, keep_m, keep_d = _reachable(keep, live_only=True)
    exp_ml, exp_m, exp_d = _reachable(
        {s["snapshot-id"] for s in expired}, live_only=False)

    # metadata first: a reader of a RETAINED snapshot never loses files
    now = int(time.time() * 1000)
    meta = dict(table.meta)
    meta["snapshots"] = [
        s for s in table.meta["snapshots"] if s["snapshot-id"] in keep]
    meta["snapshot-log"] = [
        e for e in table.meta["snapshot-log"]
        if e["snapshot-id"] in keep]
    meta["last-updated-ms"] = now
    _publish_metadata(table.meta_dir, table.version + 1, meta)
    table.version += 1
    table.meta = meta

    deleted_data = 0
    for p in sorted(exp_d - keep_d):
        if os.path.exists(p):
            os.remove(p)
            deleted_data += 1
    for p in sorted((exp_m - keep_m) | (exp_ml - keep_ml)):
        if os.path.exists(p):
            os.remove(p)
    return {
        "expired": len(expired),
        "data_files_deleted": deleted_data,
        "kept_snapshots": sorted(keep),
    }


def read_table(spark, location: str, snapshot_id: int | None = None,
               as_of_ms: int | None = None, partition_value=None):
    """Metadata-planned scan: resolve the snapshot's live files from
    the manifest chain, then hand Spark exactly those parquet files
    (identity-partition source columns live inside the files, so a
    plain parquet read of the planned list suffices). Returns an empty
    DataFrame with the table schema for an empty snapshot.

    ``partition_value`` prunes BEFORE Spark ever sees a path: the
    manifest entries' partition tuples select the file subset — the
    metadata partition pruning that makes a 10^12-row table's
    single-partition read O(that partition), not O(table)."""
    table = IcebergTable(location)
    if as_of_ms is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or as_of_ms, not both")
        snapshot_id = table.snapshot_as_of(as_of_ms)
        if snapshot_id is None:
            files = []
        else:
            files = table.live_files(
                snapshot_id, partition_value=partition_value)
    else:
        files = table.live_files(
            snapshot_id, partition_value=partition_value)
    if not files:
        # schema-faithful empty frame (flat columns; nested cols are
        # not needed by any empty-table caller here)
        current = next(
            sc for sc in table.meta["schemas"]
            if sc["schema-id"] == table.meta["current-schema-id"])
        fields = []
        for f in current["fields"]:
            t = f["type"]
            spark_t = {
                "string": "string", "long": "long", "int": "int",
                "double": "double", "float": "float",
                "boolean": "boolean", "binary": "binary",
            }.get(t if isinstance(t, str) else None)
            if spark_t is None:
                continue
            fields.append(f"{f['name']} {spark_t}")
        return spark.createDataFrame([], ", ".join(fields))
    reader = spark.read
    if len(table.meta["schemas"]) > 1:
        # evolved table: old files lack the added columns — union the
        # footers so they read as nulls (Iceberg read semantics)
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*files)
