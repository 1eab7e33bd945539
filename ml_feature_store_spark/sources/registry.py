"""Versioned table storage backends.

The reference keeps one pandas DataFrame per version in an in-process dict
(reference: src/ml_feature_store/store.py:51-69, 112). Here versioning is a
storage concern behind a small interface with two implementations:

* :class:`MemoryVersionStore` — holds (immutable, lazy) DataFrame references.
  Mirrors the reference's in-memory behavior; used by unit tests and for
  ephemeral derived tables. Spark DataFrames are immutable so the reference's
  defensive ``df.copy()`` discipline (store.py:174,206,393,396) is free.

* :class:`ParquetVersionStore` — Parquet fragment directories under
  ``<root>/<table>/`` plus a JSON meta file. This is the
  Delta-time-travel fallback (delta-spark is not available in this
  environment); on a cluster you would swap in a Delta/Iceberg-backed store
  and map version -> snapshot (``versionAsOf``). Writes
  ``sortWithinPartitions(entity, ts)`` for scan locality and, on a
  ``date_partition`` store, ``partitionBy`` the hidden date column for
  pruning at scale.

Versions are log-structured. A version record lists the FRAGMENTS it is
made of — immutable directories (frozen frames in memory), named after
the version whose write created them (``v=<n>``, compactions
``v=<n>.<k>``) — and each fragment's row count, ``max_row_id``, bytes
and files are recorded once in the meta file. A full write (register,
upsert, expire, ...) is one new fragment. An append (``extends``) lists
its parent's fragments plus one holding only the new rows, so a push
writes the push, not the history; a read scans every fragment in one
``spark.read.schema(...).parquet(*dirs)``. The chain stays bounded
without a knob: when the newest fragment is smaller than the session's
``spark.sql.files.openCostInBytes`` (not worth opening on its own), the
append writes ``tail ∪ batch`` as the new fragment in the same single
write job instead — so every fragment but the newest is worth opening.
Legacy records, written before fragments existed, read as their own
``v=<n>`` directory.

Retention commits before it deletes: dropping a version saves the meta
file without it first (the crash-atomic commit point), and only then
deletes the directories no remaining record references. A crash in
between leaves unreferenced directories, never a listed version without
its files; fragments shared with a retained (e.g. snapshot-pinned)
version are never deleted.

Publishing a version records, beside its data, what every later call
would otherwise have to scan for: its row count, its ``max_row_id`` and
its Spark schema (``StructType`` JSON, which round-trips UDTs, struct keys
and field metadata). The schema is the one a read of the version returns;
the table keeps one, and a version record carries its own only when it
differs (a widening append, a re-register with other columns). Reads pass
it to ``spark.read.schema(...)``, so a read plans with zero Spark jobs and
never infers; a fragment written before a widening append reads the new
columns as nulls. Only legacy metadata, written before schemas were
recorded, falls back to a schema-inferring read; the first publish to
such a table infers each retained version's schema once and records it.
The meta file is compact JSON that leaves out what it can derive: a
record's column names (from the schema), version number, default-valued
fields, a created_at equal to the table's registered_at and an
own-directory fragment list; the rows and ``max_row_id`` of a fragment
that is a whole version (from its record); and a schema's default
nullability and empty field metadata.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import dataclass, field, fields
from datetime import datetime, timezone
from functools import reduce
from pathlib import Path
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..operators.pit import ENTITY_COL, TIMESTAMP_COL


def atomic_write_text(path: Path, text: str) -> None:
    """Crash-atomic replace, the one writer of every JSON state file
    (table meta, spec registry, snapshot manifests): write a temp file
    in the SAME directory (so the rename never crosses filesystems) and
    ``os.replace`` it over the target. A crash mid-write leaves either
    the old file or the new one — never a truncated JSON that bricks
    every later open with a parse error."""
    fd, tmp = tempfile.mkstemp(
        dir=str(path.parent), prefix=path.name + ".", suffix=".tmp"
    )
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, str(path))
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


@dataclass
class Fragment:
    """One immutable unit of stored rows that one or more versions list."""

    rows: int
    # upper bound of __row_id__ in the fragment (None: unknown / no ids)
    max_row_id: int | None = None
    # data bytes and files on disk (None: unknown — legacy directories,
    # or files the memory backend does not have)
    bytes: int | None = None
    files: int | None = None
    # the column its directories are partitioned by ("": none; None:
    # unknown, for legacy directories). Fragments of one layout are read
    # in one scan.
    layout: str | None = ""


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
    # The fragments the version is made of, oldest first (set on load
    # and on record; legacy records read as their own directory).
    fragments: list[str] | None = None


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
    # every fragment some record lists, by key
    fragments: dict[str, Fragment] = field(default_factory=dict)


def version_schema(state: TableState, version: int) -> StructType | None:
    """The recorded schema a read of ``version`` returns, or None for a
    legacy version recorded without one."""
    rec = state.versions[version]
    raw = rec.schema if rec.schema is not None else state.schema
    return None if raw is None else StructType.fromJson(raw)


def delta_fragments(state: TableState, version: int, row_id: int) -> list[str]:
    """``version``'s fragments that may hold rows with ``__row_id__``
    above ``row_id``: their recorded ``max_row_id`` is above it, or
    unknown."""
    return [
        k for k in state.versions[version].fragments
        if state.fragments[k].max_row_id is None
        or state.fragments[k].max_row_id > row_id
    ]


def _own_key(version: int) -> str:
    """The fragment a version's own write creates."""
    return f"v={version}"


def _max(*xs):
    """max() ignoring unknown (None) bounds; None when all are."""
    known = [int(x) for x in xs if x is not None]
    return max(known) if known else None


def _now_iso() -> str:
    return datetime.now(timezone.utc).isoformat()


def _record_version(state: TableState | None, name: str, version: int,
                    columns: list[str], schema: dict, description: str,
                    chain: list[str], fragment: Fragment, row_count: int,
                    max_row_id: int | None) -> TableState:
    """Record a just-written ``version`` — the fragments ``chain`` it
    lists, the last of which (``fragment``) its write created — as
    ``name``'s current one, in ``state`` (None for a new table): the
    bookkeeping both backends share. ``schema`` is the StructType JSON a
    read of the version returns; when it differs from the table's, the
    older records that relied on the table's schema keep theirs first."""
    now = _now_iso()
    if state is None:
        state = TableState(name=name, description=description, version=version,
                           registered_at=now, updated_at=now, schema=schema)
    if state.schema != schema:
        for rec in state.versions.values():
            if rec.schema is None:
                rec.schema = state.schema
        state.schema = schema
    state.fragments[chain[-1]] = fragment
    state.version = version
    state.updated_at = now
    state.versions[version] = VersionRecord(
        version=version, row_count=row_count, columns=columns,
        created_at=now, description=description, max_row_id=max_row_id,
        fragments=chain,
    )
    return state


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
    (the key it is stored under), its default-valued fields, its
    columns when they are its schema's field names in order, its
    created_at when it is the table's registered_at, and its fragments
    when it is just its own directory."""
    schema = rec.schema if rec.schema is not None else state.schema
    out = {}
    for f in fields(VersionRecord):
        x = getattr(rec, f.name)
        if f.name == "version" or x == f.default or (
            f.name == "columns" and schema is not None
            and x == [c["name"] for c in schema["fields"]]
        ) or (f.name == "created_at" and x == state.registered_at) or (
            f.name == "fragments" and x == [_own_key(rec.version)]
        ):
            continue
        out[f.name] = _pack_schema(x) if f.name == "schema" else x
    return out


def _pack_fragment(frag: Fragment, whole: VersionRecord | None) -> dict:
    """A fragment as the meta file stores it: without its default-valued
    fields, nor the rows and max_row_id of the version it is the whole
    of (``whole``, whose record holds them)."""
    derived = {} if whole is None else {
        "rows": whole.row_count, "max_row_id": whole.max_row_id,
    }
    return {f.name: getattr(frag, f.name) for f in fields(Fragment)
            if getattr(frag, f.name) != derived.get(f.name, f.default)}


class _VersionStore:
    """The version lifecycle both backends share — write (a full version,
    or an appended fragment under the tail rule), read, delta read,
    fragment rewrite, compaction, commit-then-delete retention. A backend
    supplies ``exists``, ``drop_table`` and ``table_names``; meta
    ``_load`` / ``_commit``; ``_schema_of`` (the StructType JSON a read
    of a frame's fragment returns); and fragment ``_write_fragment`` /
    ``_replace_fragment`` (each returning the Fragment fields besides
    rows and max_row_id), ``_scan`` (one read of fragments that share a
    layout) and ``_delete_fragments``."""

    def __init_subclass__(cls, **kwargs) -> None:
        # each backend defines the shared public API in its own namespace:
        # perfbench spans the public methods in vars(ParquetVersionStore)
        super().__init_subclass__(**kwargs)
        for n, fn in vars(_VersionStore).items():
            if not n.startswith("_") and callable(fn) and n not in vars(cls):
                setattr(cls, n, fn)

    # -- catalog -----------------------------------------------------------
    def meta(self, name: str) -> TableState:
        return self._load(name)

    def versions(self, name: str) -> list[int]:
        return sorted(self._load(name).versions) if self.exists(name) else []

    def fragments(self, name: str) -> dict[str, list[int]]:
        """Every fragment of ``name`` -> the versions listing it, oldest
        first."""
        state = self._load(name)
        out: dict[str, list[int]] = {}
        for v in sorted(state.versions):
            for k in state.versions[v].fragments:
                out.setdefault(k, []).append(v)
        return out

    # -- data --------------------------------------------------------------
    def _read_fragments(self, state: TableState, keys: Sequence[str],
                        schema: StructType | None) -> DataFrame:
        """``keys`` read with ``schema``: one scan per layout (a legacy
        fragment of unknown layout alone), unioned."""
        scans: dict = {}
        for k in keys:
            layout = state.fragments[k].layout
            scans.setdefault(k if layout is None else (layout,), []).append(k)
        return reduce(DataFrame.unionByName, [
            self._scan(state.name, ks, schema) for ks in scans.values()
        ])

    def write_version(self, name: str, version: int, df: DataFrame, row_count,
                      description: str = "", max_row_id=None,
                      extends: Sequence[int] = (), fold_tail: bool = True) -> None:
        """Publish ``df`` as ``version``. ``row_count`` / ``max_row_id``
        describe ``df``'s rows; they may be thunks reading
        ``Dataset.observe`` metrics, resolved only AFTER the write action
        has fired the observation (publishes ride them on the write job
        instead of paying separate scan passes).

        With ``extends`` the version is an append: the fragments of those
        versions plus one holding ``df``'s rows. When the newest of them
        is smaller than ``spark.sql.files.openCostInBytes`` (and
        ``fold_tail``), the new fragment holds that tail's rows too,
        written in the same job, and replaces it in the chain."""
        state = self._load(name) if self.exists(name) else None
        if state is not None and state.schema is None:
            # legacy metadata: infer each retained version's schema once,
            # so the table's new schema does not stand in for theirs
            for rec in state.versions.values():
                if rec.schema is None:
                    rec.schema = self._read_fragments(
                        state, rec.fragments, None
                    ).schema.jsonValue()
        schema = self._schema_of(df)
        columns = df.columns
        base = [state.versions[v] for v in extends]
        chain = [k for rec in base for k in rec.fragments]
        tail = Fragment(rows=0)
        if chain and fold_tail:
            last = state.fragments[chain[-1]]
            limit = df.sparkSession._jsparkSession.sessionState().conf() \
                .filesOpenCostInBytes()
            if last.bytes is not None and last.bytes < limit:
                tail = last
                # ``df`` stays the left side: the union runs in its session,
                # where its row-count observation is registered (a
                # streaming micro-batch has a session of its own). The tail
                # is rewritten as one task, so a fragment's files do not
                # grow with each fold, and its rows stay in files apart
                # from the batch's: the online fold's row-id filter skips
                # them by file statistics.
                df = df.unionByName(self._read_fragments(
                    state, [chain.pop()], StructType.fromJson(schema)
                ).coalesce(1))

        def added() -> int:
            return int(row_count() if callable(row_count) else row_count)

        key = _own_key(version)
        stats = self._write_fragment(name, key, df, lambda: tail.rows + added())
        if callable(max_row_id):
            max_row_id = max_row_id()
        self._commit(_record_version(
            state, name, version, columns, schema, description, chain + [key],
            Fragment(tail.rows + added(), _max(max_row_id, tail.max_row_id),
                     **stats),
            added() + sum(rec.row_count for rec in base),
            _max(max_row_id, *(rec.max_row_id for rec in base)),
        ))

    def read_version(self, name: str, version: int) -> DataFrame:
        state = self._load(name)
        return self._read_fragments(
            state, state.versions[version].fragments, version_schema(state, version)
        )

    def read_delta(self, name: str, version: int, row_id: int) -> DataFrame | None:
        """``version``'s ``delta_fragments`` above ``row_id``, read with
        the version's schema — None when there are none."""
        state = self._load(name)
        keys = delta_fragments(state, version, row_id)
        if not keys:
            return None
        return self._read_fragments(state, keys, version_schema(state, version))

    def read_fragment(self, name: str, key: str) -> DataFrame:
        """One fragment alone, read with the schema of the oldest version
        listing it (the narrowest: appends only widen)."""
        state = self._load(name)
        first = self.fragments(name)[key][0]
        return self._read_fragments(state, [key], version_schema(state, first))

    def rewrite_fragment(self, name: str, key: str, df: DataFrame,
                         rows: int) -> None:
        """Replace one fragment's rows in place (GDPR erasure): every
        version listing it changes at once, and each re-records its row
        count. Rewrites only REMOVE rows, so recorded ``max_row_id``
        bounds stay valid (possibly loose — looseness is safe)."""
        stats = self._replace_fragment(name, key, df, rows)
        state = self._load(name)
        frag = state.fragments[key]
        for rec in state.versions.values():
            if key in rec.fragments:
                rec.row_count += rows - frag.rows
        state.fragments[key] = Fragment(rows, frag.max_row_id, **stats)
        state.updated_at = _now_iso()
        self._commit(state)

    def compact_version(self, name: str, version: int, df: DataFrame,
                        rows: int) -> None:
        """Re-point ``version`` at ONE new fragment holding ``df`` (its
        rows, laid out anew). A shared fragment is never rewritten in
        place: other versions keep listing theirs, and only fragments no
        record lists any more are deleted, after the commit."""
        state = self._load(name)
        n = 1
        while f"{_own_key(version)}.{n}" in state.fragments:
            n += 1
        key = f"{_own_key(version)}.{n}"
        stats = self._write_fragment(name, key, df, lambda: rows)
        rec = state.versions[version]
        old, rec.fragments = rec.fragments, [key]
        state.fragments[key] = Fragment(rows, rec.max_row_id, **stats)
        state.updated_at = _now_iso()
        self._commit_then_delete(state, old)

    def _commit_then_delete(self, state: TableState, keys: Sequence[str]) -> None:
        """Commit ``state``, then delete those of ``keys`` no remaining
        record lists. The meta save is the commit point: a failure after
        it leaves unreferenced directories, never a listed version
        without its files."""
        live = {k for rec in state.versions.values() for k in rec.fragments}
        dead = [k for k in dict.fromkeys(keys) if k not in live]
        for k in dead:
            state.fragments.pop(k, None)
        self._commit(state)
        if dead:
            self._delete_fragments(state.name, dead)

    def drop_version(self, name: str, version: int) -> None:
        state = self._load(name)
        rec = state.versions.pop(version, None)
        if rec is not None:
            self._commit_then_delete(state, rec.fragments)

    def rollback_version(self, name: str, version: int) -> None:
        """Unpublish a just-written version (register's empty-input
        rollback): remove it AND restore the table's current-version
        pointer; a table left with no versions disappears entirely, as
        if the write never happened."""
        state = self._load(name)
        rec = state.versions.pop(version, None)
        if not state.versions:
            self.drop_table(name)
            return
        state.version = max(state.versions)
        self._commit_then_delete(state, rec.fragments if rec else [])


class MemoryVersionStore(_VersionStore):
    """Version store holding one frozen DataFrame per fragment in-process."""

    def __init__(self) -> None:
        self._data: dict[str, dict[str, DataFrame]] = {}
        self._meta: dict[str, TableState] = {}

    def table_names(self) -> list[str]:
        return sorted(self._meta)

    def exists(self, name: str) -> bool:
        return name in self._meta

    def _load(self, name: str) -> TableState:
        return self._meta[name]

    def _commit(self, state: TableState) -> None:
        self._meta[state.name] = state

    def _schema_of(self, df: DataFrame) -> dict:
        return df.schema.jsonValue()

    def _freeze(self, name: str, key: str, df: DataFrame, rows) -> int:
        # Freeze the fragment's contents, like the parquet backend's write
        # does: __row_id__ comes from monotonically_increasing_id() and
        # would otherwise be recomputed per action — if the input plan's
        # row order is nondeterministic (e.g. downstream of a shuffle),
        # tie-break ids could differ between reads of the same version,
        # breaking the "first input row wins" contract. Returns the
        # fragment's size by Spark's own row-width estimate.
        frozen = df.localCheckpoint(eager=True)
        self._data.setdefault(name, {})[key] = frozen
        n = rows() if callable(rows) else rows
        return n * frozen._jdf.schema().defaultSize()

    def _write_fragment(self, name, key, df, rows):
        return {"bytes": self._freeze(name, key, df, rows)}

    def _scan(self, name, keys, schema):
        frames = [self._data[name][k] for k in keys]
        if len(frames) == 1 and frames[0].columns == schema.fieldNames():
            return frames[0]
        return reduce(DataFrame.unionByName, [
            f.select(*[
                F.col(c.name) if c.name in f.columns
                else F.lit(None).cast(c.dataType).alias(c.name)
                for c in schema.fields
            ])
            for f in frames
        ])

    # frozen frames hold no files a reader could be scanning: replacing
    # one is writing it
    _replace_fragment = _write_fragment

    def _delete_fragments(self, name, keys):
        for k in keys:
            self._data.get(name, {}).pop(k, None)

    def drop_table(self, name: str) -> None:
        self._data.pop(name, None)
        self._meta.pop(name, None)


class ParquetVersionStore(_VersionStore):
    """Version store with one Parquet directory per fragment under
    ``root/<table>/``."""

    META = "_meta.json"
    # every fragment is sorted by key then time within each file: an
    # entity's rows sit together, so key filters skip row groups
    SORT = (ENTITY_COL, TIMESTAMP_COL)

    def __init__(self, spark: SparkSession, root: str | Path,
                 partition_by: str | None = None) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.partition_by = partition_by

    # -- meta persistence --------------------------------------------------
    def _meta_path(self, name: str) -> Path:
        return self.root / name / self.META

    def _load(self, name: str) -> TableState:
        raw = json.loads(self._meta_path(name).read_text())
        raw["schema"] = _unpack_schema(raw.get("schema"))
        # None: written before fragments existed
        stored = raw.pop("fragments", None)
        frags = dict(stored or {})
        versions = {}
        for k, v in raw.pop("versions").items():
            rec = VersionRecord(**{"version": int(k), "columns": None,
                                   "created_at": raw["registered_at"], **v})
            rec.schema = _unpack_schema(rec.schema)
            if rec.columns is None:
                schema = rec.schema if rec.schema is not None else raw["schema"]
                rec.columns = [c["name"] for c in schema["fields"]]
            own = _own_key(rec.version)
            rec.fragments = rec.fragments or [own]
            if rec.fragments == [own]:
                # the whole version: rows and max_row_id are the record's
                # (a legacy store knows nothing else of it — its size is
                # unknown, so it is never folded)
                frags[own] = {"rows": rec.row_count, "max_row_id": rec.max_row_id,
                              **(frags.get(own, {}) if stored is not None
                                 else {"layout": None})}
            versions[rec.version] = rec
        return TableState(
            versions=versions, **raw,
            fragments={k: Fragment(**v) for k, v in frags.items()},
        )

    def _commit(self, state: TableState) -> None:
        path = self._meta_path(state.name)
        path.parent.mkdir(parents=True, exist_ok=True)
        whole = {
            rec.fragments[0]: rec for v, rec in state.versions.items()
            if rec.fragments == [_own_key(v)]
        }
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
            "fragments": {
                k: _pack_fragment(f, whole.get(k))
                for k, f in state.fragments.items()
            },
        }
        # the meta save IS the version-visibility commit point
        atomic_write_text(path, json.dumps(raw, separators=(",", ":")))

    # -- catalog ----------------------------------------------------------
    def table_names(self) -> list[str]:
        return sorted(p.parent.name for p in self.root.glob(f"*/{self.META}"))

    def exists(self, name: str) -> bool:
        return self._meta_path(name).exists()

    # -- data -------------------------------------------------------------
    def _path(self, name: str, key: str) -> Path:
        return self.root / name / key

    def _version_path(self, name: str, version: int) -> Path:
        """The directory ``version``'s own write created."""
        return self._path(name, _own_key(version))

    def _write_parquet(self, df: DataFrame, path: Path) -> dict:
        """The storage layout every fragment write shares:
        ``sortWithinPartitions`` and ``partitionBy`` on the columns the
        frame actually has. Returns the bytes, files and layout written."""
        out = df
        cols = [c for c in self.SORT if c in df.columns]
        if cols:
            out = out.sortWithinPartitions(*cols)
        writer = out.write.mode("overwrite")
        layout = ""
        if self.partition_by and self.partition_by in df.columns:
            layout = self.partition_by
            writer = writer.partitionBy(layout)
        writer.parquet(str(path))
        sizes = [p.stat().st_size for p in path.glob("**/*.parquet")]
        return {"bytes": sum(sizes), "files": len(sizes), "layout": layout}

    def _schema_of(self, df: DataFrame) -> dict:
        """StructType JSON of what reading ``df``'s Parquet write returns:
        every field nullable, the partition column (which keeps its
        written type) last."""
        fields = sorted(df.schema.fields, key=lambda f: f.name == self.partition_by)
        return _as_nullable(StructType(fields)).jsonValue()

    def _write_fragment(self, name, key, df, rows):
        return self._write_parquet(df, self._path(name, key))

    def _scan(self, name, keys, schema):
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        if len(keys) > 1:
            # Partition discovery insists on ONE base path for all
            # partitioned roots; fragments of one layout are each their
            # own base. The check's escape hatch only drops directories
            # of another layout, and a scan never mixes layouts.
            reader = reader.option("ignoreInvalidPartitionPaths", "true")
        return reader.parquet(*[str(self._path(name, k)) for k in keys])

    def _replace_fragment(self, name, key, df, rows):
        """Spark cannot overwrite a path it is lazily reading, so the new
        contents land in a scratch sibling first, then the directories
        swap — a metadata rename on real filesystems (on object stores
        the rename is a copy, still bounded by one fragment's size)."""
        final = self._path(name, key)
        tmp = final.with_name(final.name + ".__rewrite__")
        written = self._write_parquet(df, tmp)
        shutil.rmtree(final, ignore_errors=True)
        tmp.rename(final)
        return written

    def _delete_fragments(self, name, keys):
        for k in keys:
            shutil.rmtree(self._path(name, k), ignore_errors=True)

    def drop_table(self, name: str) -> None:
        shutil.rmtree(self.root / name, ignore_errors=True)
