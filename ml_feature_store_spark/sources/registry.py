"""Versioned table storage backends.

The reference keeps one pandas DataFrame per version in an in-process dict
(reference: src/ml_feature_store/store.py:51-69, 112). Here versioning is a
storage concern behind a small interface with two implementations:

* :class:`MemoryVersionStore` — holds (immutable, lazy) DataFrame references.
  Mirrors the reference's in-memory behavior; used by unit tests and for
  ephemeral derived tables. Spark DataFrames are immutable so the reference's
  defensive ``df.copy()`` discipline (store.py:174,206,393,396) is free.

* :class:`ParquetVersionStore` — one Parquet directory per version
  (``<root>/<table>/v=<n>/``) plus a JSON meta file. This is the
  Delta-time-travel fallback (delta-spark is not available in this
  environment); on a cluster you would swap in a Delta/Iceberg-backed store
  and map version -> snapshot (``versionAsOf``). Writes optionally
  ``partitionBy`` a derived date column and ``sortWithinPartitions
  (entity, ts)`` for scan locality / pruning at scale.

Publishing a version records, beside its data, what every later call
would otherwise have to scan for: its row count, its ``max_row_id`` and
its Spark schema (``StructType`` JSON, which round-trips UDTs, struct keys
and field metadata). The schema is the one a read of the version returns;
the table keeps one, and a version record carries its own only when it
differs (a widening append, a re-register with other columns). Reads pass
it to ``spark.read.schema(...)``, so a read plans with zero Spark jobs and
never infers. Only legacy metadata, written before schemas were recorded,
falls back to a schema-inferring read; the first publish to such a table
infers each retained version's schema once and records it. The meta file
is compact JSON that leaves out what the schema already says: a record's
column names, version number and default-valued fields, and a schema's
default nullability and empty field metadata.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import dataclass, field, fields
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


@dataclass
class VersionRecord:
    version: int
    row_count: int
    columns: list[str]
    created_at: str
    # Free-form provenance. The streaming sink writes its micro-batch
    # marker here, which makes the meta save the ATOMIC commit point for
    # both data visibility and batch bookkeeping — the property the
    # exactly-once restart check in streaming_register relies on.
    description: str = ""
    # Upper bound of __row_id__ in this version, observed on the write
    # (None for legacy versions written before the field existed).
    # Append/materialize/rollup watermarks read it instead of paying a
    # full-history max() scan; a stale-but-larger bound is always safe
    # (row ids only need to stay strictly increasing).
    max_row_id: int | None = None
    # StructType JSON of this version, only when it differs from the
    # table's schema (None: the table's).
    schema: dict | None = None


@dataclass
class TableState:
    name: str
    description: str
    version: int
    registered_at: str
    updated_at: str
    versions: dict[int, VersionRecord] = field(default_factory=dict)
    # StructType JSON of the versions that record none of their own;
    # None only in legacy metadata (reads then infer).
    schema: dict | None = None


def version_schema(state: TableState, version: int) -> StructType | None:
    """The recorded schema a read of ``version`` returns, or None for a
    legacy version recorded without one."""
    rec = state.versions[version]
    raw = rec.schema if rec.schema is not None else state.schema
    return None if raw is None else StructType.fromJson(raw)


def _now_iso() -> str:
    return datetime.now(timezone.utc).isoformat()


def _record_version(state: TableState | None, name: str, version: int,
                    df: DataFrame, schema: dict, row_count, description: str,
                    max_row_id) -> TableState:
    """Record a just-written ``version`` as ``name``'s current one, in
    ``state`` (None for a new table) — the bookkeeping both backends'
    ``write_version`` share. ``schema`` is the StructType JSON a read of
    the version returns; when it differs from the table's, the older
    records that relied on the table's schema keep theirs first.
    ``row_count`` / ``max_row_id`` may be thunks reading
    ``Dataset.observe`` metrics: they resolve only AFTER the backend's
    write action has fired the observation (register rides them on the
    write job instead of paying separate scan passes)."""
    row_count = int(row_count() if callable(row_count) else row_count)
    if callable(max_row_id):
        max_row_id = max_row_id()
    now = _now_iso()
    if state is None:
        state = TableState(name=name, description=description, version=version,
                           registered_at=now, updated_at=now, schema=schema)
    if state.schema != schema:
        for rec in state.versions.values():
            if rec.schema is None:
                rec.schema = state.schema
        state.schema = schema
    state.version = version
    state.updated_at = now
    state.versions[version] = VersionRecord(
        version=version, row_count=row_count, columns=df.columns,
        created_at=now, description=description,
        max_row_id=None if max_row_id is None else int(max_row_id),
    )
    return state


def _replace_record(state: TableState, version: int, df: DataFrame,
                    schema: dict, row_count: int) -> None:
    """Re-record a version whose contents were rewritten in place: data,
    schema and row count change, version number and created_at stay.
    Rewrites only REMOVE/REPLACE rows, so the old ``max_row_id`` stays a
    valid (possibly loose) upper bound — looseness is safe."""
    rec = state.versions[version]
    state.versions[version] = VersionRecord(
        version=version, row_count=row_count, columns=df.columns,
        created_at=rec.created_at, description=rec.description,
        max_row_id=rec.max_row_id,
        schema=None if schema == state.schema else schema,
    )
    state.updated_at = _now_iso()


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and map value nullable — the
    form a Parquet read returns, whatever the written nullability."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


# Values every node of a recorded schema would repeat (file reads are
# nullable throughout); the meta file stores such a key only where a
# schema says otherwise.
_SCHEMA_DEFAULTS = {"nullable": True, "containsNull": True,
                    "valueContainsNull": True, "metadata": {}}


def _pack_schema(node):
    """StructType JSON without the keys that hold their _SCHEMA_DEFAULTS
    value. Field metadata is user data: kept whole, never descended."""
    if isinstance(node, list):
        return [_pack_schema(x) for x in node]
    if not isinstance(node, dict):
        return node
    return {k: v if k == "metadata" else _pack_schema(v)
            for k, v in node.items()
            if not (k in _SCHEMA_DEFAULTS and v == _SCHEMA_DEFAULTS[k])}


def _unpack_schema(node):
    """Inverse of _pack_schema: every field, array and map node gets back
    the default-valued keys it was stored without."""
    if isinstance(node, list):
        return [_unpack_schema(x) for x in node]
    if not isinstance(node, dict):
        return node
    out = {k: v if k == "metadata" else _unpack_schema(v)
           for k, v in node.items()}
    if "name" in out:
        keys = ("nullable", "metadata")
    else:
        keys = {"array": ("containsNull",),
                "map": ("valueContainsNull",)}.get(out.get("type"), ())
    for k in keys:
        out.setdefault(k, {} if k == "metadata" else True)
    return out


def _pack_record(state: TableState, rec: VersionRecord) -> dict:
    """A version record as the meta file stores it: without its version
    (the key it is stored under), its default-valued fields, and its
    columns when they are its schema's field names in order."""
    schema = rec.schema if rec.schema is not None else state.schema
    out = {}
    for f in fields(VersionRecord):
        x = getattr(rec, f.name)
        if f.name == "version" or x == f.default or (
            f.name == "columns" and schema is not None
            and x == [c["name"] for c in schema["fields"]]
        ):
            continue
        out[f.name] = _pack_schema(x) if f.name == "schema" else x
    return out


class MemoryVersionStore:
    """Version store holding DataFrame references in-process."""

    def __init__(self) -> None:
        self._data: dict[str, dict[int, DataFrame]] = {}
        self._meta: dict[str, TableState] = {}

    # -- catalog ----------------------------------------------------------
    def table_names(self) -> list[str]:
        return sorted(self._meta)

    def exists(self, name: str) -> bool:
        return name in self._meta

    def meta(self, name: str) -> TableState:
        return self._meta[name]

    def versions(self, name: str) -> list[int]:
        return sorted(self._data.get(name, {}))

    # -- data -------------------------------------------------------------
    def write_version(self, name: str, version: int, df: DataFrame, row_count,
                      description: str = "", max_row_id=None) -> None:
        # Freeze the version's contents, like the parquet backend's write
        # does: __row_id__ comes from monotonically_increasing_id() and
        # would otherwise be recomputed per action — if the input plan's
        # row order is nondeterministic (e.g. downstream of a shuffle),
        # tie-break ids could differ between reads of the same version,
        # breaking the "first input row wins" contract.
        frozen = df.localCheckpoint(eager=True)
        self._data.setdefault(name, {})[version] = frozen
        self._meta[name] = _record_version(
            self._meta.get(name), name, version, df,
            frozen.schema.jsonValue(), row_count, description, max_row_id,
        )

    def read_version(self, name: str, version: int) -> DataFrame:
        return self._data[name][version]

    def rewrite_version(self, name: str, version: int, df: DataFrame,
                        row_count: int) -> None:
        """In-place replace a version's contents (GDPR erasure path) —
        version number and created_at stay, data and row_count change."""
        frozen = df.localCheckpoint(eager=True)
        self._data[name][version] = frozen
        _replace_record(self._meta[name], version, df,
                        frozen.schema.jsonValue(), row_count)

    def drop_version(self, name: str, version: int) -> None:
        self._data[name].pop(version, None)
        self._meta[name].versions.pop(version, None)

    def rollback_version(self, name: str, version: int) -> None:
        """Unpublish a just-written version (register's empty-input
        rollback): remove it AND restore the table's current-version
        pointer; a table left with no versions disappears entirely, as
        if the write never happened."""
        self.drop_version(name, version)
        state = self._meta[name]
        if not state.versions:
            self.drop_table(name)
            return
        state.version = max(state.versions)

    def drop_table(self, name: str) -> None:
        self._data.pop(name, None)
        self._meta.pop(name, None)


class ParquetVersionStore:
    """Version store with one Parquet dir per version under ``root``."""

    META = "_meta.json"

    def __init__(self, spark: SparkSession, root: str | Path,
                 partition_by: str | None = None,
                 sort_within_partitions: tuple[str, ...] = ()) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.partition_by = partition_by
        self.sort_within_partitions = sort_within_partitions

    # -- meta persistence --------------------------------------------------
    def _meta_path(self, name: str) -> Path:
        return self.root / name / self.META

    def _load_meta(self, name: str) -> TableState:
        raw = json.loads(self._meta_path(name).read_text())
        raw["schema"] = _unpack_schema(raw.get("schema"))
        versions = {}
        for k, v in raw.pop("versions").items():
            rec = VersionRecord(**{"version": int(k), "columns": None, **v})
            rec.schema = _unpack_schema(rec.schema)
            if rec.columns is None:
                schema = rec.schema if rec.schema is not None else raw["schema"]
                rec.columns = [c["name"] for c in schema["fields"]]
            versions[rec.version] = rec
        return TableState(versions=versions, **raw)

    def _save_meta(self, state: TableState) -> None:
        path = self._meta_path(state.name)
        path.parent.mkdir(parents=True, exist_ok=True)
        raw = {
            "name": state.name,
            "description": state.description,
            "version": state.version,
            "registered_at": state.registered_at,
            "updated_at": state.updated_at,
            "versions": {
                str(v): _pack_record(state, rec)
                for v, rec in state.versions.items()
            },
            "schema": _pack_schema(state.schema),
        }
        # the meta save IS the version-visibility commit point — it gets
        # the same crash-atomic replace as the registry/snapshot files
        # (a truncated _meta.json would brick every read of the table)
        import os
        import tempfile

        fd, tmp = tempfile.mkstemp(
            dir=str(path.parent), prefix=self.META + ".", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w") as f:
                f.write(json.dumps(raw, separators=(",", ":")))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, str(path))
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    # -- catalog ----------------------------------------------------------
    def table_names(self) -> list[str]:
        return sorted(p.parent.name for p in self.root.glob(f"*/{self.META}"))

    def exists(self, name: str) -> bool:
        return self._meta_path(name).exists()

    def meta(self, name: str) -> TableState:
        return self._load_meta(name)

    def versions(self, name: str) -> list[int]:
        return sorted(self._load_meta(name).versions)

    # -- data -------------------------------------------------------------
    def _version_path(self, name: str, version: int) -> Path:
        return self.root / name / f"v={version}"

    def _write_parquet(self, df: DataFrame, path: Path) -> None:
        """The storage layout every version write shares: optional
        ``sortWithinPartitions`` and ``partitionBy`` on the columns the
        frame actually has."""
        out = df
        cols = [c for c in self.sort_within_partitions or () if c in df.columns]
        if cols:
            out = out.sortWithinPartitions(*cols)
        writer = out.write.mode("overwrite")
        if self.partition_by and self.partition_by in df.columns:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(str(path))

    def _read_schema(self, df: DataFrame) -> dict:
        """StructType JSON of what reading ``df``'s Parquet write returns:
        every field nullable, the partition column (which keeps its
        written type) last."""
        fields = sorted(df.schema.fields, key=lambda f: f.name == self.partition_by)
        return _as_nullable(StructType(fields)).jsonValue()

    def write_version(self, name: str, version: int, df: DataFrame, row_count,
                      description: str = "", max_row_id=None) -> None:
        self._write_parquet(df, self._version_path(name, version))
        state = self._load_meta(name) if self.exists(name) else None
        if state is not None and state.schema is None:
            # legacy metadata: infer each retained version's schema once,
            # so the table's new schema does not stand in for theirs
            for rec in state.versions.values():
                if rec.schema is None:
                    rec.schema = self.spark.read.parquet(
                        str(self._version_path(name, rec.version))
                    ).schema.jsonValue()
        self._save_meta(_record_version(
            state, name, version, df, self._read_schema(df), row_count,
            description, max_row_id,
        ))

    def read_version(self, name: str, version: int) -> DataFrame:
        reader = self.spark.read
        schema = version_schema(self._load_meta(name), version)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(str(self._version_path(name, version)))

    def rewrite_version(self, name: str, version: int, df: DataFrame,
                        row_count: int) -> None:
        """In-place replace a version's contents (GDPR erasure path).
        Spark cannot overwrite a path it is lazily reading, so the new
        contents land in a scratch sibling first, then the directories
        swap — a metadata rename on real filesystems (on object stores
        the rename is a copy, still bounded by one version's size).
        Version number and created_at are preserved; only the data and
        row_count change."""
        final = self._version_path(name, version)
        tmp = final.with_name(final.name + ".__rewrite__")
        self._write_parquet(df, tmp)
        shutil.rmtree(final, ignore_errors=True)
        tmp.rename(final)
        state = self._load_meta(name)
        _replace_record(state, version, df, self._read_schema(df), row_count)
        self._save_meta(state)

    def drop_version(self, name: str, version: int) -> None:
        shutil.rmtree(self._version_path(name, version), ignore_errors=True)
        state = self._load_meta(name)
        state.versions.pop(version, None)
        self._save_meta(state)

    def rollback_version(self, name: str, version: int) -> None:
        """Unpublish a just-written version (register's empty-input
        rollback): remove its files AND restore the current-version
        pointer; a table left with no versions disappears entirely."""
        shutil.rmtree(self._version_path(name, version), ignore_errors=True)
        state = self._load_meta(name)
        state.versions.pop(version, None)
        if not state.versions:
            self.drop_table(name)
            return
        state.version = max(state.versions)
        self._save_meta(state)

    def drop_table(self, name: str) -> None:
        shutil.rmtree(self.root / name, ignore_errors=True)
