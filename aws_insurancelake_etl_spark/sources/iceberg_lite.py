"""Pure-Python Apache Iceberg table READER (``iceberg_lite``).

The reference scans its entity-match primary table with
``read.format('iceberg')`` (``etl_consume_entity_match.py:395-397``);
this container has no Iceberg runtime jar (probe in COVERAGE.md), so
this module reads the OPEN Iceberg table format
(https://iceberg.apache.org/spec/) directly:

- ``metadata/vN.metadata.json`` (``version-hint.text`` or highest N)
  → snapshots, current snapshot, partition specs;
- the snapshot's MANIFEST LIST (an Avro container, parsed by the
  sibling ``avro_lite``) → manifest files;
- each DATA manifest (Avro) → live data-file entries (status≠DELETED),
  each carrying its ``partition`` record — the metadata tree IS the
  index: partition pruning happens on manifest entries before any
  parquet footer is opened, exactly how Iceberg plans scans at 100 TB;
- the surviving parquet files (Iceberg data files STORE identity
  partition columns, unlike Hive/Delta) read as one Spark scan.

Supported: format v1 and v2, snapshot time travel (``snapshot_id=``),
identity-partition pruning, relocated tables (paths rebase from the
metadata ``location`` to the local directory), and v2 POSITION deletes
(merge-on-read): delete manifests (``content=1``) plan position-delete
parquet files (``file_path``/``pos`` columns per spec §Position Delete
Files), and the read applies them distributively — the data scan
exposes Spark's ``_metadata.row_index`` (the same per-file row ordinal
Iceberg's ``pos`` refers to) and anti-joins the delete rows, honoring
the v2 sequence-number rule (a position delete applies to data files
whose data sequence number is <= the delete file's).  EQUALITY deletes
(``data_file.content=2``, the Flink-CDC upsert shape) are applied too:
field ids resolve to column names through the metadata schema and each
distinct ``equality_ids`` set becomes one null-safe anti-join under the
STRICT sequence rule (delete seq > data seq).  Honest limit raised as
an error: non-parquet data files.

Scale note: the manifest tree is parsed driver-side (pyarrow-free,
stdlib Avro) — one row per data file, the same O(files) metadata cost
the real reader pays; the DATA path is a normal distributed parquet
scan, and delete application is one distributed anti-join (only the
O(files) path/sequence mappings are broadcast, never delete rows).

Row-level DML shared with ``delta_lite`` lives in :mod:`.dml_core`:
the MERGE prologue (source checkpoint, duplicate-key check, first-key
bounds computed in Spark), the MERGE key sets and their join hint, the
conflict-retry loop, the manifest-bounds range test
(:func:`~.dml_core.may_overlap`) and the metadata frame / literal-map
builders.  The writers here stage delete files through one stager
(:func:`_stage_delete_files`).  Every row writer (MERGE, UPDATE,
DELETE, compaction, TRUNCATE, INSERT OVERWRITE, the equality upsert)
takes ONE :func:`_plan` per attempt — the metadata loaded once, the
manifest tree walked once — reads its live rows from that plan
(:func:`_read_plan`) and commits against it, the way ``delta_lite``
works from one ``Snapshot``: a commit landing after the plan makes the
writer's claim lose instead of committing on a stale file set.  Every
commit claims its metadata version through one exit,
:func:`_commit_metadata`, which on a lost race deletes the manifests
and manifest list the commit wrote and raises
:class:`ConcurrentIcebergWrite`; :func:`_commit_or_discard` also
deletes the staged data, delete and DV files.  A commit that loses the
race leaves no file behind.
"""

from __future__ import annotations

import io
import json
import os
import uuid as _uuid
from dataclasses import dataclass, replace as _dc_replace

from pyspark.sql import DataFrame, SparkSession

from . import avro_lite
from .dml_core import (
    LIT_MAP_MAX, broadcast_meta, carry_row_ids, discard_files,
    files_in_range, lit_lookup, may_overlap, merge_prologue, meta_df,
    partition_match, retry_on_conflict,
)
from .iceberg_transforms import (
    PartitionField,
    apply_transform,
    parse_partition_by,
    parse_transform,
    transform_expr,
    transform_range,
)


class IcebergLiteError(RuntimeError):
    """Missing/unsupported table feature (delete files, bad metadata)."""


#: footer column-name sets of IMMUTABLE committed data files (uuid
#: names, never rewritten in place) — the v3 default-materialization
#: presence check hits this instead of re-reading footers every scan
_FOOTER_COLS_CACHE: dict = {}
_FOOTER_SCHEMA_CACHE: dict = {}
#: hidden per-row columns a ``_row_refs`` / ``row_lineage`` read adds
#: next to the table's own columns
_ROW_REF_COLS = (
    "__ice_file", "__ice_pos", "_row_id", "_last_updated_sequence_number",
)
#: the position-delete file columns a read applies (spec §Position
#: Delete Files), given so that building the read infers no schema: a
#: Parquet schema inference is a Spark job
_POS_DELETE_COLS = "file_path string, pos long"


def _footer_schema(path: str):
    """Cached pyarrow footer schema (metadata stripped) — data files
    are uuid-named and immutable once committed, so nested-name
    resolution pays the driver-side footer I/O once per file, ever."""
    import pyarrow.parquet as _nspq

    sch = _FOOTER_SCHEMA_CACHE.get(path)
    if sch is None:
        sch = _FOOTER_SCHEMA_CACHE[path] = _nspq.read_schema(
            path
        ).remove_metadata()
    return sch


def _footer_cols(path: str) -> frozenset:
    """Cached footer column names: top-level names PLUS dotted
    struct-leaf paths (round 11: nested ADD COLUMN defaults group
    files by whether the nested path physically exists).  Dotted
    entries can never collide with plain names, so top-level
    membership checks are unaffected."""
    import pyarrow as _pa
    import pyarrow.parquet as _dpq

    present = _FOOTER_COLS_CACHE.get(path)
    if present is None:
        sch = _dpq.read_schema(path)
        paths: set = set()

        def _walk(fields, prefix):
            for fld in fields:
                paths.add(prefix + fld.name)
                if _pa.types.is_struct(fld.type):
                    _walk(fld.type, prefix + fld.name + ".")

        _walk(sch, "")
        present = _FOOTER_COLS_CACHE[path] = frozenset(paths)
    return present


def _nm_phys_datatype(dt, entries, arrow_type):
    """Physicalized copy of a LOGICAL Spark datatype for one file:
    struct field names at every level replaced by the name-mapping
    alias actually present in the file's arrow subtree (spec §Name
    Mapping: resolve by trying the listed names against the file).
    ``entries`` is the nm subtree (list of {names[, fields]}) for this
    level; ``arrow_type`` the file's matching arrow type (None =
    absent; names then stay logical and read null)."""
    from pyspark.sql.types import ArrayType, MapType, StructField
    from pyspark.sql.types import StructType as _ST

    if isinstance(dt, _ST):
        arrow_names = {}
        if arrow_type is not None:
            try:
                arrow_names = {
                    arrow_type.field(i).name: arrow_type.field(i).type
                    for i in range(arrow_type.num_fields)
                }
            except (AttributeError, TypeError):
                arrow_names = {}
        out = []
        for f in dt.fields:
            entry = next(
                (
                    e for e in (entries or [])
                    if f.name in (e.get("names") or [])
                ),
                None,
            )
            candidates = (entry or {}).get("names") or [f.name]
            pname = next(
                (n for n in candidates if n in arrow_names), f.name
            )
            out.append(
                StructField(
                    pname,
                    _nm_phys_datatype(
                        f.dataType,
                        (entry or {}).get("fields"),
                        arrow_names.get(pname),
                    ),
                    True,
                )
            )
        return _ST(out)
    if isinstance(dt, ArrayType):
        el_entry = next(
            (
                e for e in (entries or [])
                if "element" in (e.get("names") or [])
            ),
            None,
        )
        arrow_el = None
        if arrow_type is not None:
            arrow_el = getattr(
                getattr(arrow_type, "value_field", None), "type", None
            )
        return ArrayType(
            _nm_phys_datatype(
                dt.elementType,
                (el_entry or {}).get("fields") or entries,
                arrow_el,
            ),
            dt.containsNull,
        )
    if isinstance(dt, MapType):
        v_entry = next(
            (
                e for e in (entries or [])
                if "value" in (e.get("names") or [])
            ),
            None,
        )
        arrow_v = None
        if arrow_type is not None:
            arrow_v = getattr(
                getattr(arrow_type, "item_field", None), "type", None
            )
        return MapType(
            dt.keyType,
            _nm_phys_datatype(
                dt.valueType,
                (v_entry or {}).get("fields") or entries,
                arrow_v,
            ),
            dt.valueContainsNull,
        )
    return dt


def _nm_rebuild(col, logical_dt, phys_dt):
    """Projection expression renaming a physicalized nested column back
    to LOGICAL names — pure Catalyst (struct/transform/map_from_arrays
    over the physical scan), zero Python, zero shuffle; identity for
    primitives."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType
    from pyspark.sql.types import StructType as _ST

    if isinstance(logical_dt, _ST):
        rebuilt = F.struct(
            *[
                _nm_rebuild(
                    col[pf.name], lf.dataType, pf.dataType
                ).alias(lf.name)
                for lf, pf in zip(logical_dt.fields, phys_dt.fields)
            ]
        )
        return F.when(col.isNotNull(), rebuilt)
    if isinstance(logical_dt, ArrayType) and isinstance(
        phys_dt, ArrayType
    ):
        if phys_dt.elementType == logical_dt.elementType:
            return col
        return F.transform(
            col,
            lambda x: _nm_rebuild(
                x, logical_dt.elementType, phys_dt.elementType
            ),
        )
    if isinstance(logical_dt, MapType) and isinstance(phys_dt, MapType):
        if phys_dt.valueType == logical_dt.valueType:
            return col
        return F.map_from_arrays(
            F.map_keys(col),
            F.transform(
                F.map_values(col),
                lambda v: _nm_rebuild(
                    v, logical_dt.valueType, phys_dt.valueType
                ),
            ),
        )
    return col


def _schema_of(path: str) -> dict:
    with open(path, "rb") as fh:
        meta, _sync = avro_lite.read_header(io.BytesIO(fh.read()))
    return json.loads(meta["avro.schema"].decode("utf-8"))


def _tuples_to_dicts(value, schema):
    """avro_lite decodes nested records as tuples; rebuild name-keyed
    dicts by walking the writer schema."""
    if isinstance(schema, list):  # union — value carries the branch
        branches = [b for b in schema if b != "null"]
        if value is None or not branches:
            return value
        return _tuples_to_dicts(value, branches[0])
    if isinstance(schema, dict):
        kind = schema.get("type")
        if kind == "record":
            return {
                f["name"]: _tuples_to_dicts(v, f["type"])
                for f, v in zip(schema["fields"], value)
            }
        if kind == "array":
            return [_tuples_to_dicts(v, schema["items"]) for v in value]
        if kind == "map":
            return {
                k: _tuples_to_dicts(v, schema["values"])
                for k, v in value.items()
            }
    return value


def _read_manifest_rows(path: str) -> list[dict]:
    schema = _schema_of(path)
    names, rows = avro_lite.read_avro(path)
    fields = schema["fields"]
    return [
        {
            f["name"]: _tuples_to_dicts(v, f["type"])
            for f, v in zip(fields, row)
        }
        for row in rows
    ]


def _metadata_versions(meta_dir: str) -> list[int]:
    return sorted(
        int(n[1:].split(".", 1)[0])
        for n in os.listdir(meta_dir)
        if n.endswith(".metadata.json") and n.startswith("v")
    )


def _load_metadata(table_path: str) -> dict:
    """Current table metadata (see :func:`_load_versioned`)."""
    return _load_versioned(table_path)[1]


def _load_versioned(table_path: str) -> tuple[int, dict]:
    """``(version, metadata)`` of the current table metadata = the
    HIGHEST ``vN.metadata.json``.  The ``version-hint.text`` file is a
    non-atomic optimization (HadoopTables convention) that can lag a
    just-committed version, so it is only a fallback when the directory
    scan finds nothing — trusting a stale hint would silently
    time-travel a reader backwards past a concurrent writer's commit.

    A metadata-only commit claims ``version + 1`` of the metadata it
    loaded and edited: a commit landing after the load then makes the
    claim lose instead of being overwritten."""
    meta_dir = os.path.join(table_path, "metadata")
    if not os.path.isdir(meta_dir):
        raise IcebergLiteError(f"not an iceberg table (no metadata/): {table_path}")
    versions = _metadata_versions(meta_dir)
    if versions:
        with open(
            os.path.join(meta_dir, f"v{versions[-1]}.metadata.json"),
            encoding="utf-8",
        ) as fh:
            return versions[-1], json.load(fh)
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint, encoding="utf-8") as fh:
            version = int(fh.read().strip())
        candidate = os.path.join(meta_dir, f"v{version}.metadata.json")
        if os.path.exists(candidate):
            with open(candidate, encoding="utf-8") as fh:
                return version, json.load(fh)
    raise IcebergLiteError(f"no vN.metadata.json under {meta_dir}")


def _rebaser(meta: dict, table_path: str):
    location = (meta.get("location") or "").rstrip("/")

    def rebase(path: str) -> str:
        p = path
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        if location and path.startswith(location):
            return table_path.rstrip("/") + path[len(location):]
        if location and p.startswith(location):
            return table_path.rstrip("/") + p[len(location):]
        return p

    return rebase


@dataclass
class DataFileEntry:
    path: str
    partition: dict
    record_count: int
    #: original (pre-rebase) path as written in the manifest — position
    #: delete rows reference THIS string in their ``file_path`` column
    orig_path: str = ""
    #: v2 data sequence number (0 for v1 / absent)
    sequence_number: int = 0
    #: spec ``lower_bounds``/``upper_bounds``: field id -> Appendix-D
    #: single-value bytes; empty when the writer emitted none
    lower_bounds: dict = None
    upper_bounds: dict = None
    #: v3 ROW LINEAGE: the ``_row_id`` of this file's first row —
    #: explicit from the manifest entry, or assigned by inheritance
    #: from the manifest list's ``first_row_id`` (spec §Row Lineage);
    #: None on v1/v2 tables and on files predating a v3 upgrade
    first_row_id: int | None = None
    #: the partition spec the file was written under
    spec_id: int = 0


# ---- Appendix D single-value (de)serialization for bounds maps.  Only
# the types our writer emits bounds for; unknown types simply carry no
# bounds (pruning is an optimization, never a correctness dependency).

import struct as _struct  # noqa: E402


def _single_value_encode(value, ice_type: str):
    if value is None:
        return None
    try:
        if ice_type == "long":
            return _struct.pack("<q", int(value))
        if ice_type == "int":
            return _struct.pack("<i", int(value))
        if ice_type == "double":
            return _struct.pack("<d", float(value))
        if ice_type == "float":
            return _struct.pack("<f", float(value))
        if ice_type == "string":
            return str(value).encode("utf-8")
        if ice_type == "boolean":
            return b"\x01" if value else b"\x00"
        if ice_type == "date":
            import datetime

            epoch = datetime.date(1970, 1, 1)
            return _struct.pack("<i", (value - epoch).days)
    except (ValueError, TypeError, OverflowError, _struct.error):
        return None
    return None


def _single_value_decode(data: bytes, ice_type: str):
    if data is None:
        return None
    try:
        if ice_type == "long":
            return _struct.unpack("<q", data)[0]
        if ice_type == "int":
            return _struct.unpack("<i", data)[0]
        if ice_type == "double":
            return _struct.unpack("<d", data)[0]
        if ice_type == "float":
            return _struct.unpack("<f", data)[0]
        if ice_type == "string":
            return data.decode("utf-8")
        if ice_type == "boolean":
            return data != b"\x00"
        if ice_type == "date":
            import datetime

            return datetime.date(1970, 1, 1) + datetime.timedelta(
                days=_struct.unpack("<i", data)[0]
            )
    except (ValueError, UnicodeDecodeError, _struct.error):
        return None
    return None


def _bounds_map(raw) -> dict:
    """Manifest bounds come back from Avro as a list of {key, value}
    records (Iceberg's map encoding) or a dict; normalize to
    {field_id: bytes}."""
    if not raw:
        return {}
    if isinstance(raw, dict):
        return {int(k): v for k, v in raw.items()}
    out = {}
    for item in raw:
        if isinstance(item, dict):
            out[int(item["key"])] = item["value"]
        else:
            k, v = item
            out[int(k)] = v
    return out


def _field_types_by_id(meta: dict) -> dict:
    """field id -> iceberg type name (primitives only) from the current
    schema — bounds decoding needs it."""
    schemas = meta.get("schemas")
    schema = None
    if schemas:
        cur = meta.get("current-schema-id")
        for s in schemas:
            if s.get("schema-id") == cur:
                schema = s
        if schema is None:
            schema = schemas[-1]
    else:
        schema = meta.get("schema")
    if not schema or not schema.get("fields"):
        return {}
    return {
        int(f["id"]): f["type"]
        for f in schema["fields"]
        if isinstance(f["type"], str)
    }


@dataclass
class DeleteFileEntry:
    path: str
    orig_path: str
    record_count: int
    sequence_number: int
    #: 1 = position deletes, 2 = equality deletes (spec data_file.content)
    content: int = 1
    #: for equality deletes: the schema field ids the file equates on
    equality_ids: tuple = ()
    #: partition SCOPE as sorted (col, str(value)) pairs with the null
    #: entries dropped — a partition-scoped equality delete (the shape
    #: partitioned Flink-CDC writers emit) applies only to data rows in
    #: that partition; an all-null tuple means global scope
    partition_scope: tuple = ()
    #: "PARQUET" for v2 delete files; "PUFFIN" for v3 DELETION VECTORS
    file_format: str = "PARQUET"
    #: v3 DV only (spec fields 143-145): the data file this DV tombstones
    #: (as written — the manifest's path string) and the blob's exact
    #: byte range inside the puffin file
    referenced_data_file: str = ""
    content_offset: int = 0
    content_size: int = 0


def _field_names_by_id(meta: dict) -> dict:
    """Top-level ``field id -> column name`` from the table metadata's
    current schema (v2 ``schemas``/``current-schema-id``, v1 ``schema``).
    Equality-delete application needs this: the manifest names the
    equated columns by FIELD ID (spec §Equality Delete Files), never by
    name, so renames stay safe."""
    schemas = meta.get("schemas")
    schema = None
    if schemas:
        cur = meta.get("current-schema-id")
        for s in schemas:
            if s.get("schema-id") == cur:
                schema = s
        if schema is None:
            schema = schemas[-1]
    else:
        schema = meta.get("schema")
    if not schema or not schema.get("fields"):
        raise IcebergLiteError(
            "equality deletes need a schema (field ids) in table metadata"
        )
    return {int(f["id"]): f["name"] for f in schema["fields"]}


def _eq_delete_reader(spark: SparkSession, meta: dict, eq_ids, cols):
    """``spark.read`` for equality-delete files equating ``eq_ids``
    (named ``cols``), their columns typed from the table schema by
    field id, so building the read infers no Parquet schema.  A type
    with no Spark mapping falls back to the files' footers."""
    ice_types = _field_types_by_id(meta)
    types = [_spark_type_from_ice(ice_types.get(i)) for i in eq_ids]
    if any(t is None for t in types):
        return spark.read
    return spark.read.schema(", ".join(
        f"`{c}` {t.simpleString()}" for c, t in zip(cols, types)))


def _partition_spec_fields(
    meta: dict, spec_id: int | None = None
) -> list[PartitionField]:
    """A partition spec resolved to (field name, transform, SOURCE
    column name) triples — source-ids resolve through the current
    schema's field ids, so renames stay safe.  ``spec_id`` selects a
    specific spec (partition-spec EVOLUTION: each manifest prunes under
    the spec it was written with); default is the table's default spec.
    Production Iceberg tables partition by TRANSFORMS (``day``,
    ``bucket[N]``, ``truncate[W]``), not raw values; every consumer of
    the spec goes through this so transformed tables plan, prune, and
    upsert exactly like identity ones."""
    specs = meta.get("partition-specs") or []
    want_id = (
        meta.get("default-spec-id", 0) if spec_id is None else int(spec_id)
    )
    spec = None
    for s in specs:
        if s.get("spec-id") == want_id:
            spec = s
    if spec is None and specs and spec_id is None:
        spec = specs[-1]
    if not spec:
        return []
    try:
        names_by_id = _field_names_by_id(meta)
    except IcebergLiteError:
        names_by_id = {}
    fields = []
    for f in spec.get("fields", []):
        name = f.get("name")
        transform = f.get("transform") or "identity"
        source = names_by_id.get(int(f.get("source-id") or -1)) or name
        fields.append(PartitionField(name, transform, source))
    return fields


def _coerce_partition_value(value):
    """Manifest partition values arrive as whatever the writer's Avro
    schema typed them (this module's writer: strings; external writers:
    ints for transformed ordinals).  Normalize for comparison: canonical
    integer strings become ints (so ``"17486"`` from a string-typed
    record equals ``17486`` from an int-typed one); anything else —
    including non-canonical forms like ``"0123"`` — stays a string so
    identity string partitions never over-match."""
    if value is None:
        return None
    if isinstance(value, bool):
        return str(value)
    if isinstance(value, int):
        return value
    s = str(value)
    try:
        i = int(s)
    except ValueError:
        return s
    return i if str(i) == s else s


def _attach_orig(spark, df, files):
    """Attach each planned row's as-written path (``orig``) from its
    local ``__ice_file`` — literal lookup when the file set is small
    (no broadcast-build job), broadcast map join otherwise.  Every
    ``__ice_file`` comes from the plan's own file set, so the lookup
    never misses (== the inner join it replaces)."""
    from pyspark.sql import functions as F

    rows = [(f.path, f.orig_path) for f in files]
    if len(rows) <= LIT_MAP_MAX:
        return df.withColumn(
            "orig",
            lit_lookup(rows, F.col("__ice_file"), [("orig", "string")])[
                "orig"
            ],
        )
    fm = meta_df(spark, rows, "__ice_file string, orig string")
    return df.join(broadcast_meta(fm), "__ice_file")


@dataclass(frozen=True)
class _Plan:
    """One scan of one table version: the metadata loaded once
    (``version``, ``meta``), the planned snapshot's manifest-list rows
    and the live data and delete files of one walk of its manifests.
    A row writer reads its live rows from it (:func:`_read_plan`),
    prunes with :func:`_in_bounds` over ``files`` and commits against it
    (``_commit_snapshot(..., base=plan)``): the commit claims the
    version after ``version``, so a commit that lands after the plan
    makes it lose."""

    table_path: str
    version: int
    meta: dict
    #: the planned snapshot (None: the table has none yet)
    snapshot_id: int | None
    #: the schema a read uses: a time-travel plan's snapshot schema,
    #: else the table's current one
    schema_id: int | None
    manifests: list
    files: list
    deletes: list


def plan_files(
    table_path: str, snapshot_id=None, partition_filter=None,
    bounds_filter=None,
) -> list[DataFileEntry]:
    """Live DATA files of the snapshot (see :func:`plan_scan`)."""
    return _plan(table_path, snapshot_id, partition_filter, bounds_filter).files


def plan_scan(
    table_path: str, snapshot_id=None, partition_filter=None,
    bounds_filter=None,
) -> tuple[list[DataFileEntry], list[DeleteFileEntry]]:
    """``(data files, delete files)`` of one :func:`_plan` of the
    snapshot: its live data files AND position/equality/DV delete files
    through the manifest tree, pruning data files on partition values
    BEFORE touching any parquet footer.  Delete files are never
    partition-pruned (a delete manifest may target any data file; an
    inapplicable delete row simply fails the anti-join match).

    ``bounds_filter`` ({col: (lo, hi)}, either end None for open):
    additionally prunes data files the ranges provably miss
    (:func:`_in_bounds`) — Iceberg's manifest-level VALUE pruning, the
    second half of what makes a 100 TB scan plan O(matching files).
    Files without bounds are never pruned."""
    plan = _plan(table_path, snapshot_id, partition_filter, bounds_filter)
    return plan.files, plan.deletes


def _plan(
    table_path: str, snapshot_id=None, partition_filter=None,
    bounds_filter=None,
) -> _Plan:
    """Load the table metadata once and walk the snapshot's manifest
    list and each of its manifests once (see :func:`plan_scan`)."""
    version, meta = _load_versioned(table_path)
    if int(meta.get("format-version", 1)) not in (1, 2, 3):
        raise IcebergLiteError(
            f"unsupported format-version {meta.get('format-version')}"
        )
    snapshots = meta.get("snapshots") or []
    if not snapshots:
        return _Plan(
            table_path, version, meta, None, meta.get("current-schema-id"),
            [], [], [],
        )
    as_of = snapshot_id is not None
    snapshot_id = (
        _resolve_ref(meta, snapshot_id) if as_of
        else meta.get("current-snapshot-id")
    )
    matches = [s for s in snapshots if s.get("snapshot-id") == snapshot_id]
    if not matches:
        known = [s.get("snapshot-id") for s in snapshots]
        raise IcebergLiteError(f"snapshot {snapshot_id} not in {known}")
    snap = matches[0]
    # spec §Scan Planning: a time-travel read uses the SNAPSHOT's
    # schema, not the table's current one — after a RENAME, reading an
    # old snapshot surfaces the names its consumers saw then
    schema_id = meta.get("current-schema-id")
    if as_of and snap.get("schema-id") is not None:
        schema_id = snap["schema-id"]
    rebase = _rebaser(meta, table_path)
    if "manifest-list" not in snap:
        raise IcebergLiteError(
            "snapshot without manifest-list (v1 'manifests' inline lists "
            "are not produced by current writers and are unsupported here)"
        )
    manifests = _read_manifest_rows(rebase(snap["manifest-list"]))
    data: list[DataFileEntry] = []
    deletes: list[DeleteFileEntry] = []
    # Per-SPEC pruning plans (partition-spec EVOLUTION, spec §Partition
    # Evolution): each manifest carries the spec id it was written
    # under; a table that moved from months(ts) to days(ts) keeps its
    # old manifests, and every file must prune under ITS OWN spec.
    # Filters may name either a spec FIELD (compare the given value
    # directly against the partition tuple) or a SOURCE column (apply
    # the field's transform to the literal first — a file can only
    # contain rows whose transformed value equals its partition value,
    # for any transform).  A filter key unknown to an OLD spec simply
    # does not prune that spec's manifests (correct: the range filter
    # still applies row-level); a key unknown to EVERY spec is a typo
    # and raises.
    all_specs = meta.get("partition-specs") or []
    if partition_filter:
        known: set = set()
        names_by_id_spec = None
        try:
            names_by_id_spec = _field_names_by_id(meta)
        except IcebergLiteError:
            names_by_id_spec = {}
        for s in all_specs:
            for f in s.get("fields", []):
                known.add(f.get("name"))
                src = names_by_id_spec.get(int(f.get("source-id") or -1))
                if src:
                    known.add(src)
        bad = [k for k in partition_filter if k not in known]
        if bad:
            raise IcebergLiteError(
                f"partition filter keys {bad} match no partition field "
                f"or source column in any spec (known: {sorted(known)})"
            )

    _spec_plans: dict = {}

    def spec_plan(spec_id: int) -> list:
        """part_checks for one spec id, cached."""
        if spec_id in _spec_plans:
            return _spec_plans[spec_id]
        spec_fields = _partition_spec_fields(meta, spec_id)
        by_field = {f.name: f for f in spec_fields}
        by_source: dict = {}
        for f in spec_fields:
            by_source.setdefault(f.source, []).append(f)
        part_checks: list = []  # (field_name, expected coerced value)
        for k, v in (partition_filter or {}).items():
            if k in by_field:
                part_checks.append((k, _coerce_partition_value(v)))
            elif k in by_source:
                for f in by_source[k]:
                    if f.kind == "void":
                        continue
                    part_checks.append(
                        (
                            f.name,
                            _coerce_partition_value(
                                apply_transform(f.transform, v)
                            ),
                        )
                    )
        _spec_plans[spec_id] = part_checks
        return part_checks

    for mf in manifests:
        spec_id = int(mf.get("partition_spec_id") or 0)
        part_checks = spec_plan(spec_id)
        # v2 manifest-list rows carry the manifest's sequence number;
        # ADDED entries with a null sequence_number inherit it (spec
        # §Sequence Number Inheritance).  v1 / doctored fixtures without
        # the field default to 0.
        mf_seq = int(mf.get("sequence_number") or 0)
        # v3 ROW LINEAGE inheritance (spec §Row Lineage): data files
        # with a null first_row_id take the manifest list entry's
        # first_row_id plus the record counts of the PRECEDING
        # null-first_row_id data files in this manifest — assigned
        # BEFORE pruning so ids never shift with the filter
        mf_fri = mf.get("first_row_id")
        fri_running = None if mf_fri is None else int(mf_fri)
        for entry in _read_manifest_rows(rebase(mf["manifest_path"])):
            if int(entry.get("status") or 0) == 2:  # DELETED
                continue
            seq = entry.get("sequence_number")
            seq = mf_seq if seq is None else int(seq)
            df = entry["data_file"]
            content = int(df.get("content") or 0)
            fmt = str(df.get("file_format", "PARQUET")).upper()
            if content in (1, 2):
                if fmt == "PUFFIN":
                    # v3 DELETION VECTOR (spec §Deletion Vectors): the
                    # entry names its target data file and the blob's
                    # byte range; decode happens executor-side at read
                    ref = df.get("referenced_data_file")
                    if not ref:
                        raise IcebergLiteError(
                            "puffin delete entry without "
                            f"referenced_data_file: {df.get('file_path')}"
                        )
                    deletes.append(
                        DeleteFileEntry(
                            path=rebase(df["file_path"]),
                            orig_path=df["file_path"],
                            record_count=int(df.get("record_count") or 0),
                            sequence_number=seq,
                            content=1,
                            file_format="PUFFIN",
                            referenced_data_file=ref,
                            content_offset=int(
                                df.get("content_offset") or 0
                            ),
                            content_size=int(
                                df.get("content_size_in_bytes") or 0
                            ),
                        )
                    )
                    continue
                if fmt != "PARQUET":
                    raise IcebergLiteError(
                        f"file_format {fmt} unsupported"
                    )
                eq_ids = df.get("equality_ids") or ()
                if content == 2 and not eq_ids:
                    raise IcebergLiteError(
                        "equality delete file without equality_ids in its"
                        f" manifest entry: {df.get('file_path')}"
                    )
                del_partition = df.get("partition") or {}
                deletes.append(
                    DeleteFileEntry(
                        path=rebase(df["file_path"]),
                        orig_path=df["file_path"],
                        record_count=int(df.get("record_count") or 0),
                        sequence_number=seq,
                        content=content,
                        equality_ids=tuple(int(i) for i in eq_ids),
                        partition_scope=tuple(
                            sorted(
                                (k, str(v))
                                for k, v in del_partition.items()
                                if v is not None
                            )
                        ),
                    )
                )
                continue
            if fmt != "PARQUET":
                raise IcebergLiteError(f"file_format {fmt} unsupported")
            fri = df.get("first_row_id")
            if fri is not None:
                fri = int(fri)
            elif fri_running is not None:
                fri = fri_running
                fri_running += int(df.get("record_count") or 0)
            partition = df.get("partition") or {}
            if part_checks and any(
                _coerce_partition_value(partition.get(k)) != v
                for k, v in part_checks
            ):
                continue
            data.append(
                DataFileEntry(
                    path=rebase(df["file_path"]),
                    partition=partition,
                    record_count=int(df.get("record_count") or 0),
                    orig_path=df["file_path"],
                    sequence_number=seq,
                    lower_bounds=_bounds_map(df.get("lower_bounds")),
                    upper_bounds=_bounds_map(df.get("upper_bounds")),
                    first_row_id=fri,
                    spec_id=spec_id,
                )
            )
    if bounds_filter:
        data = _in_bounds(meta, data, bounds_filter)
    return _Plan(
        table_path, version, meta, snapshot_id, schema_id, manifests,
        sorted(data, key=lambda e: e.path),
        sorted(deletes, key=lambda e: e.path),
    )


def _in_bounds(meta: dict, files: list, bounds_filter: dict) -> list:
    """The planned data ``files`` that may hold a row inside every
    ``bounds_filter`` range ({col: (lo, hi)}, either end None for
    open).  A file drops when the ranges provably miss:

    - its PARTITION value under its own spec, for each field whose
      source is a bounded column and whose transform preserves order
      (day/month/year/hour/truncate/identity; bucket on exact points
      only) — the manifest-level partition pruning a day-partitioned
      100 TB table lives by: a time-range query opens only matching
      days;
    - its manifest ``lower_bounds`` / ``upper_bounds`` on the column
      (spec Appendix D single-value bytes, keyed by field id), through
      :func:`dml_core.files_in_range`.

    Missing or undecodable values never drop a file."""
    try:
        ids_by_name = {v: k for k, v in _field_names_by_id(meta).items()}
    except IcebergLiteError:
        ids_by_name = {}
    types_by_id = _field_types_by_id(meta)
    for col, (lo, hi) in bounds_filter.items():
        ranges: dict = {}  # spec id -> [(field name, lo, hi) transformed]
        for e in files:
            if e.spec_id not in ranges:
                ranges[e.spec_id] = [
                    (f.name, *rng)
                    for f in _partition_spec_fields(meta, e.spec_id)
                    if f.source == col
                    and (rng := transform_range(f.transform, lo, hi))
                ]
        files = [
            e for e in files
            if all(
                may_overlap(pv, pv, plo, phi)
                for name, plo, phi in ranges[e.spec_id]
                for pv in [_coerce_partition_value(e.partition.get(name))]
            )
        ]
        fid = ids_by_name.get(col)
        ice_type = types_by_id.get(fid)
        if fid is not None and ice_type is not None:
            files = files_in_range(
                files,
                lambda e: tuple(
                    _single_value_decode((b or {}).get(fid), ice_type)
                    for b in (e.lower_bounds, e.upper_bounds)
                ),
                lo, hi,
            )
    return files


def _resolve_ref(meta: dict, snapshot_id):
    """A ``snapshot_id`` may be an integer id or a NAMED REF — a branch
    or tag from the metadata's ``refs`` map (spec §Snapshot References:
    ``VERSION AS OF 'audit-2024'`` resolves through it).  Numeric
    strings pass through as ids."""
    if isinstance(snapshot_id, int):
        return snapshot_id
    name = str(snapshot_id)
    refs = meta.get("refs") or {}
    if name in refs:
        return int(refs[name]["snapshot-id"])
    try:
        return int(name)
    except ValueError:
        raise IcebergLiteError(
            f"unknown snapshot ref {name!r} (refs: {sorted(refs)})"
        ) from None


def list_refs(table_path: str) -> dict:
    """The table's branch/tag refs: {name: {"snapshot-id", "type"}}."""
    return dict(_load_metadata(table_path).get("refs") or {})


def create_ref(
    table_path: str, name: str, ref_type: str = "tag", snapshot_id=None,
) -> dict:
    """CREATE TAG / CREATE BRANCH: pin ``name`` to ``snapshot_id`` (the
    current snapshot when omitted) in the metadata's ``refs`` map — the
    spec's snapshot-reference mechanism behind ``ALTER TABLE ... CREATE
    TAG``.  A ref'd snapshot is immune to :func:`expire_snapshots`.
    Commits the next metadata version (O_EXCL)."""
    if ref_type not in ("tag", "branch"):
        raise IcebergLiteError(f"ref type must be tag|branch: {ref_type!r}")
    loaded, meta = _load_versioned(table_path)
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    snapshot_id = _resolve_ref(meta, snapshot_id)
    known = {s.get("snapshot-id") for s in meta.get("snapshots") or []}
    if snapshot_id not in known:
        raise IcebergLiteError(
            f"cannot ref unknown snapshot {snapshot_id} (have {sorted(known)})"
        )
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": int(snapshot_id), "type": ref_type}
    new_meta = dict(meta)
    new_meta["refs"] = refs
    _commit_metadata(table_path, loaded + 1, new_meta, meta)
    return refs[name]


def drop_ref(table_path: str, name: str) -> None:
    """DROP TAG/BRANCH: remove ``name`` from the refs map (the snapshot
    becomes expirable again).  The ``main`` branch cannot be dropped."""
    if name == "main":
        raise IcebergLiteError("cannot drop the main branch")
    loaded, meta = _load_versioned(table_path)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise IcebergLiteError(f"no such ref {name!r} (refs: {sorted(refs)})")
    del refs[name]
    new_meta = dict(meta)
    new_meta["refs"] = refs
    _commit_metadata(table_path, loaded + 1, new_meta, meta)


def fast_forward(
    table_path: str, source_branch: str, to: str = "main"
) -> dict:
    """Iceberg's ``fast_forward`` procedure — the PUBLISH half of
    write-audit-publish: move ref ``to`` (default main) up to
    ``source_branch``'s head.  Refuses unless the target's current head
    is an ANCESTOR of the source head (walking
    ``parent-snapshot-id`` links), i.e. the move is a pure pointer
    advance with no history rewrite — that is what makes publish safe
    and O(1): the audited snapshot bytes ARE the published bytes.
    Commits the next metadata version (O_EXCL)."""
    loaded, meta = _load_versioned(table_path)
    refs = dict(meta.get("refs") or {})
    if source_branch not in refs:
        raise IcebergLiteError(
            f"no such branch {source_branch!r} (refs: {sorted(refs)})"
        )
    src_head = int(refs[source_branch]["snapshot-id"])
    to_ref = refs.get(to)
    to_head = (
        int(to_ref["snapshot-id"])
        if to_ref and to_ref.get("snapshot-id") is not None
        else (meta.get("current-snapshot-id") if to == "main" else None)
    )
    if to_head == src_head:
        return {"updated": False, "ref": to, "snapshot_id": src_head}
    if to_head is not None:
        parents = {
            int(s["snapshot-id"]): s.get("parent-snapshot-id")
            for s in meta.get("snapshots") or []
        }
        node = src_head
        while node is not None and node != to_head:
            node = parents.get(int(node))
            node = int(node) if node is not None else None
        if node != to_head:
            raise IcebergLiteError(
                f"cannot fast-forward {to!r} (head {to_head}) to "
                f"{source_branch!r} (head {src_head}): target head is "
                "not an ancestor of the source head — the branches "
                "diverged; rebase or cherry-pick instead"
            )
    refs[to] = {"snapshot-id": src_head, "type": "branch"}
    new_meta = dict(meta)
    new_meta["refs"] = refs
    if to == "main":
        new_meta["current-snapshot-id"] = src_head
    version = loaded + 1
    _commit_metadata(table_path, version, new_meta, meta)
    return {"updated": True, "ref": to, "snapshot_id": src_head,
            "previous_snapshot_id": to_head, "version": version}


def read_iceberg_incremental(
    spark: SparkSession,
    table_path: str,
    from_snapshot,
    to_snapshot=None,
) -> DataFrame:
    """INCREMENTAL APPEND SCAN (Iceberg's incremental read, the
    ``start-snapshot-id``/``end-snapshot-id`` options): the rows added
    by snapshots in ``(from_snapshot, to_snapshot]`` — the consumption
    shape downstream CDC/ETL uses to process only what is new instead
    of re-scanning 100 TB.  Both bounds accept snapshot ids or ref
    names.  Matching the engine's contract, the scan REFUSES if any
    in-range snapshot is not a pure append (a MERGE/DELETE in range
    means added files do not equal added rows): replay those through
    the CDF/MOR readers instead.  Planning is pure metadata — the set
    difference of the two snapshots' data-file lists — so the read
    opens only the appended files."""
    meta = _load_metadata(table_path)
    from_id = _resolve_ref(meta, from_snapshot)
    to_id = (
        meta.get("current-snapshot-id")
        if to_snapshot is None
        else _resolve_ref(meta, to_snapshot)
    )
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    for bound in (from_id, to_id):
        if bound not in snaps:
            raise IcebergLiteError(
                f"snapshot {bound} not in {sorted(snaps)}"
            )
    if to_id < from_id:
        raise IcebergLiteError(
            f"incremental range is backwards: ({from_id}, {to_id}]"
        )
    in_range = [
        s for sid, s in sorted(snaps.items()) if from_id < sid <= to_id
    ]
    not_append = [
        s["snapshot-id"]
        for s in in_range
        if (s.get("summary") or {}).get("operation", "append") != "append"
    ]
    if not_append:
        raise IcebergLiteError(
            f"incremental append scan refused: snapshots {not_append} in "
            "range are not pure appends (replay deletes/merges through "
            "the MOR read path instead)"
        )
    base = {f.path for f in plan_files(table_path, snapshot_id=from_id)}
    target = plan_files(table_path, snapshot_id=to_id)
    new_files = [f for f in target if f.path not in base]
    if not new_files:
        raise IcebergLiteError(
            f"no files appended in ({from_id}, {to_id}]; empty incremental "
            "reads need a schema source this reader intentionally does "
            "not guess"
        )
    history = _name_history(meta)
    if history is not None:
        # RENAME/DROP-COLUMN-altered table: appended files carry the
        # names of the schema they were written under — resolve each
        # per-schema group (via its snapshot's schema-id) and project
        # to CURRENT names; a range straddling a rename scans one
        # group per distinct schema and unions (round 10, third
        # session — previously a named refusal).  Unaltered tables
        # never reach this branch.
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        table_schema = _spark_schema_from_meta(meta)
        if table_schema is None:
            raise IcebergLiteError(
                "schema-altered table whose metadata schema does not "
                "map to Spark types; refusing a name-ambiguous read"
            )
        by_sid: dict = {}
        for f in new_files:
            by_sid.setdefault(_file_schema_id(history, f), []).append(f)
        parts = []
        for sid in sorted(by_sid, key=lambda s: (s is None, s)):
            smap = history["maps"].get(sid, {})
            sub, out = [], []
            for fld in table_schema.fields:
                fid = history["cur_ids"].get(fld.name)
                pname = smap.get(fid) if fid is not None else fld.name
                if pname is None:
                    out.append(
                        F.lit(None).cast(fld.dataType).alias(fld.name)
                    )
                else:
                    sub.append(StructField(pname, fld.dataType, True))
                    out.append(F.col(pname).alias(fld.name))
            df = spark.read.schema(StructType(sub)).parquet(
                *[f.path for f in by_sid[sid]]
            )
            parts.append(df.select(*out))
        result = parts[0]
        for p in parts[1:]:
            result = result.unionByName(p)
        return result
    return spark.read.parquet(*[f.path for f in new_files])


def read_iceberg_changelog(
    spark: SparkSession,
    table_path: str,
    from_snapshot,
    to_snapshot=None,
) -> DataFrame:
    """CHANGELOG SCAN (Iceberg's ``create_changelog_view``): the
    ROW-LEVEL changes committed by snapshots in ``(from, to]`` — each
    row tagged ``_change_type`` (``insert``/``delete``),
    ``_commit_snapshot_id`` and ``_commit_timestamp_ms``.  Per
    snapshot: ``append`` emits the added files' rows as inserts;
    ``overwrite`` (MERGE/UPDATE/DV-delete) emits its added files as
    inserts AND materializes its new position-delete/deletion-vector
    entries back into full deleted rows (a (file, pos) anti-identity:
    the pairs join the PARENT snapshot's scan — rows never transit the
    driver); ``delete`` (metadata-only partition drop) emits the
    removed files' live rows as deletes; ``replace`` (compaction) emits
    nothing — the row set did not change, which is the property that
    makes compaction invisible downstream.  EQUALITY-DELETE commits
    (the Flink-CDC / :func:`upsert_iceberg_equality` shape) materialize
    their deleted rows by a null-safe LEFT SEMI join of the PARENT
    snapshot's scan against the delete files' key tuples — one join per
    distinct (equality_ids, partition-scope field set), the same
    grouping as the read path, so a whole partitioned CDC stream's
    commit is one anti-identity join, not one per partition value.  The
    spec's strictly-smaller-sequence rule is satisfied by construction:
    every parent-snapshot file predates the delete's commit, and rows
    the commit itself adds are never candidates.  A key tuple matching
    no live parent row (the pure-insert half of an upsert) emits no
    delete row, mirroring Delta CDF.  Refuses rename/drop-altered
    tables (split ranges at the schema change).

    This is the Iceberg-side twin of delta_lite's
    :func:`~.delta_lite.read_change_feed`.
    """
    from pyspark.sql import functions as F

    meta = _load_metadata(table_path)
    if _name_history(meta) is not None:
        raise IcebergLiteError(
            "changelog over a RENAME/DROP-COLUMN-altered table is not "
            "supported; split the range at the schema-change commit"
        )
    from_id = _resolve_ref(meta, from_snapshot)
    to_id = (
        meta.get("current-snapshot-id")
        if to_snapshot is None
        else _resolve_ref(meta, to_snapshot)
    )
    snaps = sorted(
        (s for s in meta.get("snapshots") or []),
        key=lambda s: s["snapshot-id"],
    )
    ids = [s["snapshot-id"] for s in snaps]
    if from_id not in ids or to_id not in ids:
        raise IcebergLiteError(
            f"snapshot bounds ({from_id}, {to_id}] not in {ids}"
        )
    parts = []
    prev_id = from_id
    for s in snaps:
        sid = s["snapshot-id"]
        if sid <= from_id or sid > to_id:
            continue
        op = (s.get("summary") or {}).get("operation", "append")
        ts = int(s.get("timestamp-ms") or 0)
        if op == "replace":
            prev_id = sid
            continue
        files_now, dels_now = plan_scan(table_path, snapshot_id=sid)
        files_prev, dels_prev = plan_scan(
            table_path, snapshot_id=prev_id
        )
        prev_paths = {f.path for f in files_prev}
        added = [f for f in files_now if f.path not in prev_paths]
        now_paths = {f.path for f in files_now}
        removed = [f for f in files_prev if f.path not in now_paths]
        prev_del_paths = {d.path for d in dels_prev}
        new_deletes = [
            d for d in dels_now if d.path not in prev_del_paths
        ]
        eq_new = [d for d in new_deletes if d.content == 2]
        new_deletes = [d for d in new_deletes if d.content != 2]
        tag = [
            F.lit(sid).alias("_commit_snapshot_id"),
            F.lit(ts).alias("_commit_timestamp_ms"),
        ]
        if added:
            ins = spark.read.parquet(*[f.path for f in added])
            parts.append(
                ins.select(
                    "*", F.lit("insert").alias("_change_type"), *tag
                )
            )
        if new_deletes or eq_new or (removed and op != "replace"):
            # parent-state scan once per changing snapshot; (file,pos)
            # pairs (from position-delete parquet and decoded DVs),
            # equality-delete key tuples, and whole removed files all
            # resolve against it
            parent = read_iceberg(
                spark, table_path, snapshot_id=prev_id, _row_refs=True
            )
            sel = None
            if removed:
                sel = F.col("__ice_file").isin(
                    [f.path for f in removed]
                )
            if new_deletes:
                pos_pairs = []
                by_orig = {f.orig_path: f for f in files_prev}
                dv_plan = []
                pos_files = []
                for d in new_deletes:
                    if d.file_format == "PUFFIN":
                        ref = by_orig.get(d.referenced_data_file)
                        if ref is not None:
                            dv_plan.append(
                                (d.path, d.content_offset,
                                 d.content_size, ref.path)
                            )
                    else:
                        pos_files.append(d)
                del_rows = None
                if pos_files:
                    fmap = meta_df(
                        spark,
                        [(f.orig_path, f.path) for f in files_prev],
                        "orig string, __del_file string",
                    )
                    del_rows = (
                        spark.read.schema(_POS_DELETE_COLS)
                        .parquet(*[d.path for d in pos_files])
                        .select(
                            F.col("file_path").alias("orig"),
                            F.col("pos").alias("__del_pos"),
                        )
                        .join(broadcast_meta(fmap), "orig")
                        .select("__del_file", "__del_pos")
                    )
                if dv_plan:
                    dv_df = meta_df(
                        spark,
                        dv_plan,
                        "dfile string, off long, size long, "
                        "__del_file string",
                    )

                    def _decode(batches):
                        import pandas as pd

                        from .puffin_lite import read_dv

                        for pdf in batches:
                            for dfile, off, size, local in zip(
                                pdf["dfile"], pdf["off"], pdf["size"],
                                pdf["__del_file"],
                            ):
                                pos = read_dv(dfile, int(off), int(size))
                                yield pd.DataFrame(
                                    {
                                        "__del_file": [local] * len(pos),
                                        "__del_pos": pd.Series(
                                            pos, dtype="int64"
                                        ),
                                    }
                                )

                    dv_rows = dv_df.repartition(
                        max(1, min(len(dv_plan), 64))
                    ).mapInPandas(
                        _decode, "__del_file string, __del_pos long"
                    )
                    del_rows = (
                        dv_rows if del_rows is None
                        else del_rows.unionByName(dv_rows)
                    )
                if del_rows is not None:
                    hit = (
                        parent.join(
                            del_rows,
                            (F.col("__ice_file") == F.col("__del_file"))
                            & (F.col("__ice_pos") == F.col("__del_pos")),
                            "left_semi",
                        )
                    )
                    parts.append(
                        hit.drop("__ice_file", "__ice_pos").select(
                            "*",
                            F.lit("delete").alias("_change_type"),
                            *tag,
                        )
                    )
            if eq_new:
                # Materialize predicate deletes: the parent rows a key
                # tuple hits ARE the deleted rows.  Same grouping and
                # scope semantics as read_iceberg's apply path — one
                # null-safe semi-join per (equality_ids, scope fields),
                # scope VALUES travel as broadcast join keys.
                names_by_id = _field_names_by_id(meta)
                scope_spec: dict = {}
                for _spid in [
                    sp.get("spec-id", 0)
                    for sp in meta.get("partition-specs") or [{}]
                ]:
                    for pf in _partition_spec_fields(meta, _spid):
                        scope_spec.setdefault(pf.name, pf)
                parent_cols = [
                    c for c in parent.columns
                    if c not in ("__ice_file", "__ice_pos")
                ]
                parent_types = dict(parent.dtypes)
                eq_groups: dict = {}
                for d in eq_new:
                    sfields = tuple(sc[0] for sc in d.partition_scope)
                    eq_groups.setdefault(
                        (d.equality_ids, sfields), []
                    ).append(d)
                for (eq_ids, sfields), group in sorted(eq_groups.items()):
                    try:
                        cols = [names_by_id[i] for i in eq_ids]
                    except KeyError as exc:
                        raise IcebergLiteError(
                            f"equality_ids {eq_ids} not in table schema"
                        ) from exc
                    missing = [c for c in cols if c not in parent_cols]
                    if missing:
                        raise IcebergLiteError(
                            "equality-delete columns absent from the "
                            f"parent scan: {missing}"
                        )
                    scope_exprs = []
                    for pcol in sfields:
                        field = scope_spec.get(pcol)
                        if field is not None and field.kind != "identity":
                            expr = transform_expr(
                                field.transform,
                                field.source,
                                parent_types.get(field.source, "string"),
                            )
                        else:
                            expr = F.col(
                                field.source if field is not None else pcol
                            )
                        scope_exprs.append(expr.cast("string"))
                    eq_map = meta_df(
                        spark,
                        [
                            (d.path, *[
                                dict(d.partition_scope).get(pcol)
                                for pcol in sfields
                            ])
                            for d in group
                        ],
                        ", ".join(
                            ["dfile string"]
                            + [
                                f"__eq_scope_{i} string"
                                for i in range(len(sfields))
                            ]
                        ),
                    )
                    del_vals = (
                        _eq_delete_reader(spark, meta, eq_ids, cols)
                        .parquet(*[d.path for d in group])
                        .select(
                            *[F.col(c).alias(f"__eq_{c}") for c in cols],
                            F.regexp_replace(
                                F.col("_metadata.file_path"),
                                "^file:/+", "/",
                            ).alias("dfile"),
                        )
                        .join(broadcast_meta(eq_map), "dfile")
                        .drop("dfile")
                    )
                    cond = F.lit(True)
                    for c in cols:
                        cond = cond & F.col(c).eqNullSafe(
                            F.col(f"__eq_{c}")
                        )
                    for i, expr in enumerate(scope_exprs):
                        cond = cond & (expr == F.col(f"__eq_scope_{i}"))
                    hit = parent.join(del_vals, cond, "left_semi")
                    parts.append(
                        hit.drop("__ice_file", "__ice_pos").select(
                            "*",
                            F.lit("delete").alias("_change_type"),
                            *tag,
                        )
                    )
            if sel is not None:
                parts.append(
                    parent.where(sel)
                    .drop("__ice_file", "__ice_pos")
                    .select(
                        "*", F.lit("delete").alias("_change_type"), *tag
                    )
                )
        prev_id = sid
    if not parts:
        raise IcebergLiteError(
            f"no row changes in ({from_id}, {to_id}] (empty changelog "
            "reads need a schema source this reader intentionally does "
            "not guess)"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------ metadata tables
#
# Iceberg exposes table internals as queryable METADATA TABLES
# (``SELECT * FROM tbl$snapshots`` / ``$files`` / ``$partitions`` /
# ``$history``) — the ops surface DBAs live in: how many files per
# partition, which snapshots hold what, is compaction due.  All four
# are pure metadata (manifest tree only, no data file opened), so they
# answer in O(manifests) even on a 100 TB table.


def inspect_snapshots(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``$snapshots`` metadata table: one row per snapshot."""
    meta = _load_metadata(table_path)
    rows = [
        (
            int(s["snapshot-id"]),
            int(s.get("sequence-number") or 0),
            int(s.get("timestamp-ms") or 0),
            (s.get("summary") or {}).get("operation"),
            s.get("manifest-list"),
        )
        for s in meta.get("snapshots") or []
    ]
    return meta_df(
        spark,
        rows,
        "snapshot_id long, sequence_number long, committed_at_ms long, "
        "operation string, manifest_list string",
    )


def inspect_history(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``$history`` metadata table: the current-snapshot lineage
    with an ``is_current_ancestor`` flag (every snapshot here is an
    ancestor under this writer's linear history)."""
    meta = _load_metadata(table_path)
    current = meta.get("current-snapshot-id")
    rows = [
        (
            int(s.get("timestamp-ms") or 0),
            int(s["snapshot-id"]),
            int(s["snapshot-id"]) <= int(current or 0),
        )
        for s in meta.get("snapshots") or []
    ]
    return meta_df(
        spark,
        rows,
        "made_current_at_ms long, snapshot_id long, "
        "is_current_ancestor boolean",
    )


def inspect_files(
    spark: SparkSession, table_path: str, snapshot_id=None
) -> DataFrame:
    """The ``$files`` metadata table: one row per live data file of the
    snapshot, with its partition tuple as a map and manifest-recorded
    counts — no parquet footer is opened."""
    files, _ = plan_scan(table_path, snapshot_id=snapshot_id)
    rows = [
        (
            f.path,
            {k: (None if v is None else str(v)) for k, v in f.partition.items()},
            int(f.record_count),
            int(f.sequence_number),
        )
        for f in files
    ]
    return meta_df(
        spark,
        rows,
        "file_path string, partition map<string,string>, "
        "record_count long, sequence_number long",
    )


def inspect_delete_files(
    spark: SparkSession, table_path: str, snapshot_id=None
) -> DataFrame:
    """The ``$delete_files`` metadata table: one row per live delete
    file — position-delete parquet, equality-delete parquet, or v3
    DELETION VECTOR (``file_format=PUFFIN`` with its referenced data
    file and blob byte range).  Pure manifest walk, the ops view for
    'how much MOR debt does this table carry and in what form'."""
    _, deletes = plan_scan(table_path, snapshot_id=snapshot_id)
    rows = [
        (
            d.path,
            d.file_format,
            int(d.content),
            int(d.record_count),
            int(d.sequence_number),
            list(d.equality_ids) or None,
            d.referenced_data_file or None,
            int(d.content_offset) if d.file_format == "PUFFIN" else None,
            int(d.content_size) if d.file_format == "PUFFIN" else None,
        )
        for d in deletes
    ]
    return meta_df(
        spark,
        rows,
        "file_path string, file_format string, content int, "
        "record_count long, sequence_number long, "
        "equality_ids array<int>, referenced_data_file string, "
        "content_offset long, content_size_in_bytes long",
    )


def inspect_manifests(
    spark: SparkSession, table_path: str, snapshot_id=None
) -> DataFrame:
    """The ``$manifests`` metadata table: one row per manifest of the
    snapshot's manifest list — the operator's view of metadata bloat
    (the thing :func:`rewrite_manifests` compacts)."""
    meta = _load_metadata(table_path)
    rebase = _rebaser(meta, table_path)
    target = _resolve_ref(meta, snapshot_id) if snapshot_id is not None \
        else meta.get("current-snapshot-id")
    snap = next(
        (s for s in meta.get("snapshots") or []
         if s.get("snapshot-id") == target),
        None,
    )
    rows = []
    if snap is not None:
        for mf in _read_manifest_rows(rebase(snap["manifest-list"])):
            entries = _read_manifest_rows(rebase(mf["manifest_path"]))
            rows.append(
                (
                    mf["manifest_path"],
                    int(mf.get("manifest_length") or 0),
                    int(mf.get("partition_spec_id") or 0),
                    int(mf.get("content") or 0),
                    int(mf.get("sequence_number") or 0),
                    int(mf.get("added_snapshot_id") or 0),
                    len(entries),
                )
            )
    return meta_df(
        spark,
        rows,
        "path string, length long, partition_spec_id int, content int, "
        "sequence_number long, added_snapshot_id long, entry_count long",
    )


def inspect_entries(
    spark: SparkSession, table_path: str, snapshot_id=None
) -> DataFrame:
    """The ``$entries`` metadata table: one row per manifest ENTRY of
    the snapshot — status (0 existing / 1 added / 2 deleted), owning
    snapshot, sequence number, and the entry's file path/content/
    record count.  The manifest-level view (``$manifests``) shows
    metadata bloat; this shows churn — which commits added or logically
    deleted which files — all O(manifest bytes), zero data opened."""
    meta = _load_metadata(table_path)
    rebase = _rebaser(meta, table_path)
    target = _resolve_ref(meta, snapshot_id) if snapshot_id is not None \
        else meta.get("current-snapshot-id")
    snap = next(
        (s for s in meta.get("snapshots") or []
         if s.get("snapshot-id") == target),
        None,
    )
    rows = []
    if snap is not None:
        for mf in _read_manifest_rows(rebase(snap["manifest-list"])):
            m_content = int(mf.get("content") or 0)
            for e in _read_manifest_rows(rebase(mf["manifest_path"])):
                df_rec = e.get("data_file") or {}
                rows.append(
                    (
                        int(e.get("status") or 0),
                        int(e.get("snapshot_id") or
                            mf.get("added_snapshot_id") or 0),
                        int(e.get("sequence_number") or
                            mf.get("sequence_number") or 0),
                        m_content,
                        df_rec.get("file_path"),
                        int(df_rec.get("record_count") or 0),
                        int(df_rec.get("file_size_in_bytes") or 0),
                    )
                )
    return meta_df(
        spark,
        rows,
        "status int, snapshot_id long, sequence_number long, "
        "content int, file_path string, record_count long, "
        "file_size_in_bytes long",
    )


def inspect_refs(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``$refs`` metadata table: one row per branch/tag."""
    rows = [
        (name, r.get("type"), int(r.get("snapshot-id")))
        for name, r in sorted(list_refs(table_path).items())
    ]
    return meta_df(
        spark,
        rows, "name string, type string, snapshot_id long"
    )


def inspect_partitions(
    spark: SparkSession, table_path: str, snapshot_id=None
) -> DataFrame:
    """The ``$partitions`` metadata table: per live partition tuple,
    the record and file counts — the first thing an operator checks
    before compaction or when hunting skew."""
    files, _ = plan_scan(table_path, snapshot_id=snapshot_id)
    agg: dict = {}
    for f in files:
        key = tuple(sorted(
            (k, None if v is None else str(v)) for k, v in f.partition.items()
        ))
        rec, cnt = agg.get(key, (0, 0))
        agg[key] = (rec + int(f.record_count), cnt + 1)
    rows = [
        (dict(key), rec, cnt) for key, (rec, cnt) in sorted(agg.items())
    ]
    return meta_df(
        spark,
        rows,
        "partition map<string,string>, record_count long, file_count long",
    )


def snapshot_ids(table_path: str) -> list[int]:
    meta = _load_metadata(table_path)
    return [s["snapshot-id"] for s in meta.get("snapshots") or []]


def changelog_commit_ids(
    table_path: str, from_snapshot, to_snapshot=None
) -> list[int]:
    """Snapshot ids a :func:`read_iceberg_changelog` scan over
    ``(from, to]`` can draw rows from: every non-``replace`` snapshot in
    the range.  ``replace`` (compaction) commits are excluded at plan
    time by the same rule the changelog reader applies, so callers can
    assert compaction invisibility from driver metadata alone instead of
    executing the changelog an extra time."""
    meta = _load_metadata(table_path)
    from_id = _resolve_ref(meta, from_snapshot)
    to_id = (
        meta.get("current-snapshot-id")
        if to_snapshot is None
        else _resolve_ref(meta, to_snapshot)
    )
    return [
        s["snapshot-id"]
        for s in sorted(
            meta.get("snapshots") or [], key=lambda s: s["snapshot-id"]
        )
        if from_id < s["snapshot-id"] <= to_id
        and (s.get("summary") or {}).get("operation", "append")
        != "replace"
    ]


def snapshot_as_of_timestamp(table_path: str, ts_ms: int):
    """Snapshot id current as of ``ts_ms`` (Iceberg's
    ``TIMESTAMP AS OF``), resolved against the SNAPSHOT-LOG when the
    table carries one (spec §Table Metadata: the log records every
    change of current-snapshot-id, so after a ROLLBACK "as of now" is
    the rolled-back-TO snapshot — creation timestamps alone cannot
    express that).  Tables without a log (older writers) fall back to
    snapshot creation times.  None when the table postdates the
    bound."""
    meta = _load_metadata(table_path)
    log = meta.get("snapshot-log") or []
    if log:
        best = None
        best_ts = -1
        for entry in log:
            st = int(entry.get("timestamp-ms") or 0)
            if st <= ts_ms and st >= best_ts:
                best, best_ts = entry.get("snapshot-id"), st
        return best
    best = None
    best_ts = -1
    for snap in meta.get("snapshots") or []:
        st = int(snap.get("timestamp-ms") or 0)
        if st <= ts_ms and st >= best_ts:
            best, best_ts = snap["snapshot-id"], st
    return best


def read_iceberg(
    spark: SparkSession,
    table_path: str,
    snapshot_id=None,
    partition_filter=None,
    bounds_filter=None,
    _row_refs: bool = False,
    row_lineage: bool = False,
) -> DataFrame:
    """Snapshot read of an Iceberg table directory: ONE :func:`_plan`
    (the metadata loaded once, the manifest tree walked once, with
    partition pruning and time travel) read by :func:`_read_plan` as
    one distributed parquet scan.  Identity partition columns come from
    the data files themselves, per the Iceberg convention.

    Position deletes (v2 merge-on-read) are applied as one distributed
    LEFT ANTI join: the data scan exposes ``_metadata.file_path`` +
    ``_metadata.row_index`` (Spark's per-file row ordinal — by spec the
    exact quantity a position delete's ``pos`` names), delete rows map
    their as-written ``file_path`` back to local planned files through a
    broadcast O(files) mapping, and the v2 visibility rule
    ``delete.sequence_number >= data.sequence_number`` filters
    inapplicable deletes.  Delete ROWS are never collected to the
    driver and never force-broadcast — at 100 TB AQE picks the join
    strategy from the delete side's actual size.

    ``_row_refs`` (internal, used by the DML paths): additionally
    return ``__ice_file`` (LOCAL planned path) and ``__ice_pos``
    (per-file row ordinal) for every LIVE row — i.e. after position
    and equality deletes are applied — so UPDATE/DELETE match only
    rows a reader would actually see (ADVICE r9: matching against
    raw parquet resurrected MOR-deleted rows).

    Format-version 3 (spec §Deletion Vectors / §Row Lineage): delete
    manifests may reference DELETION VECTORS — roaring bitmaps in
    PUFFIN files — instead of position-delete parquet; each DV decodes
    EXECUTOR-side (``mapInPandas``, one task per DV, the bitmap never
    transits the driver) into (file, pos) rows feeding the same
    anti-join, and a data file covered by a DV ignores position-delete
    parquet entirely (the spec's supersede rule — writers must fold
    prior position deletes into the DV).  ``row_lineage=True``
    additionally returns ``_row_id`` (the file's ``first_row_id`` +
    position; null for files predating a v3 upgrade) and
    ``_last_updated_sequence_number`` (the file's data sequence
    number)."""
    return _read_plan(
        spark, _plan(table_path, snapshot_id, partition_filter, bounds_filter),
        bounds_filter, _row_refs, row_lineage,
    )


def _read_plan(
    spark: SparkSession, plan: _Plan, bounds_filter=None,
    _row_refs: bool = False, row_lineage: bool = False,
) -> DataFrame:
    """The rows of ``plan`` as :func:`read_iceberg` returns them: the
    scan of ``plan.files`` with ``plan.deletes`` applied, under the
    plan's metadata.  ``bounds_filter`` is the row-level residual of a
    plan whose files were pruned by it.  Opens no metadata JSON,
    manifest list or manifest."""
    from pyspark.sql import functions as F

    table_path, files, deletes = plan.table_path, plan.files, plan.deletes
    # v3 column DEFAULTS (spec §Default values): a field carrying
    # ``initial-default`` must surface that value — not null — for
    # rows written BEFORE the column existed; rows written after read
    # their stored values (legitimate nulls included).  The split is
    # per-file: files physically lacking the column get the default
    # attached as a literal (the ext_groups pattern below), files
    # carrying it scan normally.  Presence comes from one driver-side
    # footer-schema read per file — O(files) metadata, and only on
    # tables that actually declare defaults.  Non-primitive defaults
    # (struct/list JSON values) stay a named refusal.
    # a time-travel plan reads under its snapshot's schema: re-point
    # current-schema-id for this read; the name-resolution machinery
    # below handles the rest
    _defaults_meta = plan.meta
    if plan.schema_id != _defaults_meta.get("current-schema-id"):
        _defaults_meta = {
            **_defaults_meta, "current-schema-id": plan.schema_id,
        }
    # name (possibly DOTTED for fields added inside structs) ->
    # (iceberg type object, JSON single-value).  Non-primitive values
    # materialize through _default_literal; defaults on fields nested
    # inside list/map elements stay a named refusal (there is no
    # per-row position to attach them to).
    column_defaults: dict = {}

    def _collect_defaults(fields, prefix, in_container):
        for f in fields:
            dv = f.get("initial-default")
            pathname = prefix + f["name"]
            if dv is not None:
                if in_container:
                    raise IcebergLiteError(
                        f"field {pathname!r} carries an initial-default "
                        "inside a list/map element; materializing "
                        "defaults there is not supported"
                    )
                column_defaults[pathname] = (f.get("type"), dv)
            t = f.get("type")
            if isinstance(t, dict):
                kind = t.get("type")
                if kind == "struct":
                    _collect_defaults(
                        t.get("fields", []), pathname + ".", in_container
                    )
                elif kind == "list" and isinstance(
                    t.get("element"), dict
                ) and t["element"].get("type") == "struct":
                    _collect_defaults(
                        t["element"].get("fields", []),
                        pathname + ".",
                        True,
                    )
                elif kind == "map" and isinstance(
                    t.get("value"), dict
                ) and t["value"].get("type") == "struct":
                    _collect_defaults(
                        t["value"].get("fields", []),
                        pathname + ".",
                        True,
                    )

    for s in _defaults_meta.get("schemas") or (
        [_defaults_meta["schema"]] if _defaults_meta.get("schema") else []
    ):
        if s.get("schema-id") not in (
            _defaults_meta.get("current-schema-id", 0), None,
        ):
            continue
        _collect_defaults(s.get("fields", []), "", False)

    def _default_col(name):
        ice_t, dv = column_defaults[name]
        lit = _default_literal(ice_t, dv)
        if lit is None:
            raise IcebergLiteError(
                f"column {name!r}: v3 initial-default {dv!r} has no "
                f"faithful Spark mapping for type {ice_t!r}; refusing "
                "rather than misreading"
            )
        return lit
    def residual(df: DataFrame) -> DataFrame:
        # bounds pruning is file-level; the row-level range still
        # applies inside surviving files (same contract as Iceberg's
        # scan filter: prune what provably misses, filter the rest)
        for col, (lo, hi) in (bounds_filter or {}).items():
            if lo is not None:
                df = df.where(F.col(col) >= lo)
            if hi is not None:
                df = df.where(F.col(col) <= hi)
        return df

    # Read by the TABLE schema when it maps cleanly (spec: the metadata
    # schema, not any one file, defines the table): files written
    # before an added column surface it as NULL, files with stale extra
    # columns do not leak them, and int32/float32 files widen under a
    # promoted column.  Unmappable metadata falls back to parquet
    # self-description (pre-evolution behavior).
    table_schema = _spark_schema_from_meta(_defaults_meta)
    # v3 row lineage: rows MOVED by UPDATE/compaction carry their ids
    # MATERIALIZED in the data files (spec §Row Lineage — a moved row
    # must keep its _row_id); a lineage read therefore scans the two
    # metadata columns too (files without them read null and fall back
    # to position-based assignment below)
    lineage_cols = (
        [("_row_id", "long"), ("_last_updated_sequence_number", "long")]
        if row_lineage else []
    )
    scan_schema = table_schema
    if lineage_cols and table_schema is not None:
        scan_schema = _spark_schema_from_meta(_defaults_meta)
        for name, dt in lineage_cols:
            scan_schema.add(name, dt)
    if not files:
        # a TRUNCATEd / fully-deleted table reads as zero rows under
        # the METADATA schema — the spec's schema source; only when the
        # metadata carries an unmappable type does the reader refuse
        # rather than guess
        if table_schema is None:
            raise IcebergLiteError(
                f"no data files in snapshot (table {table_path}); "
                "empty-table reads need a schema source this reader "
                "intentionally does not guess"
            )
        for name, dt in (
            [("__ice_file", "string"), ("__ice_pos", "long")]
            if _row_refs else []
        ) + lineage_cols:
            table_schema.add(name, dt)
        return meta_df(spark, [], table_schema)

    def _norm(col):
        # _metadata.file_path is a URI (file:///x); planned paths are
        # plain local paths (/x) — normalize to the latter
        return F.regexp_replace(col, "^file:/+", "/")

    # ``add_files`` imports reference EXTERNAL Hive-layout files whose
    # identity partition columns live in the DIR NAME, not the data
    # (spec: "readers may use partition metadata for identity
    # fields").  Split those out and attach the manifest's partition
    # literal per group; internal staged files always carry their
    # source columns and stay one scan.  Footer checks are one per
    # distinct external parent dir — O(imported partitions), driver
    # metadata class.
    root = os.path.abspath(table_path) + os.sep
    internal, external = [], []
    for f in files:
        (internal
         if os.path.abspath(f.path).startswith(root)
         else external).append(f)
    ext_groups = []  # (entries, {missing col -> partition literal})
    hive_bases: dict = {}  # (missing cols, base root) -> [entries]
    if external:
        if table_schema is None:
            raise IcebergLiteError(
                "external (add_files-imported) data files need a "
                "readable table schema in the metadata"
            )
        import pyarrow.parquet as _pq

        from pyspark.sql.types import StructType

        dtype_by_name = {f.name: f.dataType for f in table_schema.fields}
        cols_cache: dict = {}
        by_key: dict = {}  # literal-attach fallback groups
        from urllib.parse import unquote as _unq

        for f in external:
            d = os.path.dirname(f.path)
            cols = cols_cache.get(d)
            if cols is None:
                cols = cols_cache[d] = set(_pq.read_schema(f.path).names)
            missing_defaults = sorted(
                c
                for c in column_defaults
                if c not in _footer_cols(f.path)
            )
            if missing_defaults:
                raise IcebergLiteError(
                    f"external (add_files-imported) file {f.path} lacks "
                    f"defaulted columns {missing_defaults}; materializing "
                    "v3 initial-defaults on external imports is not "
                    "supported — refusing rather than reading null"
                )
            missing = sorted(
                c for c in f.partition
                if c not in cols and c in dtype_by_name
            )
            if not missing:
                internal.append(f)
                continue
            # Hive-consistent case: the missing identity values appear
            # as trailing col=val dirs agreeing with the manifest — ALL
            # such files collapse into ONE basePath scan per common
            # root instead of one union branch per partition VALUE
            segs = d.split(os.sep)
            idx = len(segs)
            while idx > 0 and "=" in segs[idx - 1]:
                idx -= 1
            tail = {}
            for s in segs[idx:]:
                col, _, raw = s.partition("=")
                tail[col] = (
                    None if raw == "__HIVE_DEFAULT_PARTITION__"
                    else _unq(raw)
                )
            hive_ok = all(
                c in tail and tail[c] == f.partition[c] for c in missing
            )
            if hive_ok:
                base = os.sep.join(segs[:idx])
                hive_bases.setdefault(
                    (tuple(missing), base), []
                ).append(f)
            else:
                key = tuple((c, f.partition[c]) for c in missing)
                by_key.setdefault(key, []).append(f)
        for key, group in sorted(by_key.items()):
            ext_groups.append((group, dict(key)))
    need_meta = bool(deletes) or _row_refs or row_lineage

    def _with_meta(df):
        return df.select(
            "*",
            _norm(F.col("_metadata.file_path")).alias("__ice_file"),
            F.col("_metadata.row_index").alias("__ice_pos"),
        )

    from pyspark.sql.types import StructField, StructType  # noqa: F811

    # RENAME/DROP COLUMN history (spec §Schema Evolution): when a
    # current field was ever named differently — or a retired field's
    # name is now reused by a re-added column — files must scan under
    # the names of the schema they were WRITTEN with (resolved via
    # their snapshot's schema-id) and project back to current names.
    # None on unaltered tables: zero overhead.
    history = _name_history(_defaults_meta)
    # spec §Name Mapping (``schema.name-mapping.default``): files
    # written WITHOUT parquet field ids resolve their columns through
    # alias lists per field id — the UniForm-over-column-mapped shape,
    # where parquet carries the Delta PHYSICAL names while the Iceberg
    # schema names are logical
    nm_alias = None
    nm_entry_by_id: dict = {}
    nm_nested = False
    _props = _defaults_meta.get("properties") or {}
    if _props.get("schema.name-mapping.default"):
        _nm_raw = json.loads(_props["schema.name-mapping.default"])
        nm_alias = {
            int(e["field-id"]): list(e.get("names") or [])
            for e in _nm_raw
            if e.get("field-id") is not None
        }
        nm_entry_by_id = {
            int(e["field-id"]): e
            for e in _nm_raw
            if e.get("field-id") is not None
        }
        nm_nested = any(e.get("fields") for e in _nm_raw)
    if (history is not None or nm_alias is not None) and table_schema is None:
        raise IcebergLiteError(
            "schema-altered or name-mapped table whose metadata schema "
            "does not map to Spark types; refusing a name-ambiguous read"
        )
    if history is not None and (external or hive_bases or ext_groups):
        raise IcebergLiteError(
            "add_files-imported (external) data files on a RENAME/DROP-"
            "COLUMN-altered table are not supported — import again "
            "under the current schema instead"
        )
    ids_by_name = {}
    if history is not None:
        ids_by_name = history["cur_ids"]
    elif nm_alias is not None:
        ids_by_name = {
            n: i for i, n in _field_names_by_id(_defaults_meta).items()
        }

    def _sig_for(f) -> tuple:
        """Per-file AS-WRITTEN name for every scan-schema field (None =
        the field is absent from this file and must read null/default,
        never a same-named retired column's bytes).  Resolution:
        schema-history (authoritative, via the file's snapshot) first,
        then name-mapping aliases against the parquet footer."""
        smap = None
        if history is not None:
            smap = history["maps"].get(_file_schema_id(history, f), {})
        footer = _footer_cols(f.path) if nm_alias is not None else None
        names = []
        for fld in scan_schema.fields:
            fid = ids_by_name.get(fld.name)
            if fid is None:  # lineage metadata columns: no field id
                names.append(fld.name)
                continue
            name = smap.get(fid) if smap is not None else fld.name
            if footer is not None and name is not None and name not in footer:
                name = next(
                    (a for a in nm_alias.get(fid, []) if a in footer), None
                )
            names.append(name)
        return tuple(names)

    def _nested_dts(sample_path: str, phys_of: dict) -> dict:
        """NESTED name mapping: per-field PHYSICALIZED datatype for one
        file group (struct field names at every level resolved against
        the group's footer — all group files share one fingerprint).
        Empty when nothing needs a rebuild, which keeps flat-mapped and
        unmapped groups on the zero-overhead path."""
        out: dict = {}
        if not nm_nested or scan_schema is None:
            return out
        sample = _footer_schema(sample_path)
        arrow_by_name = {
            sample.field(i).name: sample.field(i).type
            for i in range(len(sample.names))
        }
        for fld in scan_schema.fields:
            pname = phys_of.get(fld.name)
            if pname is None:
                continue
            entry = nm_entry_by_id.get(ids_by_name.get(fld.name))
            if entry and entry.get("fields"):
                pdt = _nm_phys_datatype(
                    fld.dataType, entry["fields"], arrow_by_name.get(pname)
                )
                if pdt != fld.dataType:
                    out[fld.name] = pdt
        return out

    # group internal files by (as-written name signature, which
    # DEFAULTED columns they physically lack); the single identity
    # group is the normal one-scan path.  Footer schemas are cached
    # process-wide: data files are uuid-named and immutable once
    # committed, so repeated reads of a defaulted table pay the
    # driver-side footer I/O once, not per read.
    resolve_names = history is not None or nm_alias is not None
    hist_nested = bool(history and history.get("nested"))
    default_groups = {(None, (), None, None): internal}
    if (
        (column_defaults or resolve_names)
        and internal
        and scan_schema is not None
    ):
        default_groups = {}
        if (
            column_defaults
            and hist_nested
            and any("." in c for c in column_defaults)
        ):
            # nested defaults combined with NESTED rename/drop history
            # would need per-schema-id as-written leaf resolution to
            # decide footer presence — refuse rather than risk reading
            # a renamed leaf's stored values as the default
            raise IcebergLiteError(
                "nested initial-defaults on a table with nested "
                "rename/drop history are not supported; run "
                "rewrite_data_files to materialize the defaults first"
            )
        for f in internal:
            sig = _sig_for(f) if resolve_names else None
            missing = ()
            if column_defaults:
                present = _footer_cols(f.path)
                # footer presence must be judged under the file's
                # AS-WRITTEN names (round-11 review: after RENAME x->y
                # the defaults are keyed 'y' but the file stores 'x' —
                # checking 'y' against the footer would project the
                # default OVER real stored values)
                aw = (
                    dict(
                        zip([fl.name for fl in scan_schema.fields], sig)
                    )
                    if sig is not None
                    else None
                )

                def _aw_path(c):
                    head, dot, rest = c.partition(".")
                    h = aw.get(head, head) if aw is not None else head
                    if h is None:
                        return None  # field predates this file: missing
                    return h + ("." + rest if dot else "")

                missing = tuple(
                    sorted(
                        c
                        for c in column_defaults
                        if _aw_path(c) is None
                        or _aw_path(c) not in present
                    )
                )
            # nested name mapping: files may differ in nested PHYSICAL
            # layout, which the top-level signature cannot see — the
            # footer schema fingerprint splits those groups (cached,
            # one read per file ever)
            fp = str(_footer_schema(f.path)) if nm_nested else None
            # nested RENAME/DROP history: each schema-id scans as its
            # own group under its as-written nested layout
            sid_key = (
                _file_schema_id(history, f) if hist_nested else None
            )
            default_groups.setdefault(
                (sig, missing, fp, sid_key), []
            ).append(f)
    parts = []
    for (sig, missing_defaults, _fp, sid_key), group in sorted(
        default_groups.items(),
        key=lambda kv: (
            str(kv[0][0]), kv[0][1], str(kv[0][2]), str(kv[0][3]),
        ),
    ):
        if not group:
            continue
        # per-field physical (as-written) name for this group; None
        # means the field did not exist in the group's files
        phys_of = {}
        if scan_schema is not None:
            if sig is None:
                phys_of = {f.name: f.name for f in scan_schema.fields}
            else:
                phys_of = dict(
                    zip([f.name for f in scan_schema.fields], sig)
                )
        nested_dt_of = (
            _nested_dts(group[0].path, phys_of) if group else {}
        )
        # nested schema HISTORY: scan this group under its schema-id's
        # as-written nested layout, rebuild to current names by field id
        hist_rb_of: dict = {}
        if sid_key is not None and scan_schema is not None:
            wr_types = history["types"].get(sid_key, {})
            for fld in scan_schema.fields:
                fid = ids_by_name.get(fld.name)
                cur_t = history["cur_types"].get(fid)
                wr_t = wr_types.get(fid)
                if cur_t is None or wr_t is None:
                    continue
                if (
                    isinstance(cur_t, dict) or isinstance(wr_t, dict)
                ) and _names_tree(cur_t) != _names_tree(wr_t):
                    sp = _spark_type_from_ice(wr_t)
                    if sp is not None:
                        nested_dt_of[fld.name] = sp
                        hist_rb_of[fld.name] = (cur_t, wr_t)
        if scan_schema is not None:
            sub_schema = StructType(
                [
                    StructField(
                        phys_of[fld.name],
                        nested_dt_of.get(fld.name, fld.dataType),
                        True,
                    )
                    for fld in scan_schema.fields
                    if fld.name not in missing_defaults
                    and phys_of[fld.name] is not None
                ]
            )
            df = spark.read.schema(sub_schema).parquet(
                *[f.path for f in group]
            )
        else:
            df = spark.read.parquet(*[f.path for f in group])
        if need_meta:
            df = _with_meta(df)
        renamed_here = scan_schema is not None and any(
            phys_of[fld.name] not in (fld.name, None)
            for fld in scan_schema.fields
        )
        absent_here = scan_schema is not None and any(
            phys_of[fld.name] is None for fld in scan_schema.fields
        )
        if missing_defaults or renamed_here or absent_here or nested_dt_of:
            cols = []
            for fld in scan_schema.fields:
                pname = phys_of[fld.name]
                if fld.name in missing_defaults:
                    cols.append(
                        _default_col(fld.name)
                        .cast(fld.dataType)
                        .alias(fld.name)
                    )
                elif pname is None:
                    has_default = fld.name in (column_defaults or {})
                    cols.append(
                        (
                            _default_col(fld.name) if has_default
                            else F.lit(None)
                        )
                        .cast(fld.dataType)
                        .alias(fld.name)
                    )
                elif fld.name in hist_rb_of:
                    cols.append(
                        _hist_rebuild(
                            F.col(pname), *hist_rb_of[fld.name]
                        ).alias(fld.name)
                    )
                elif fld.name in nested_dt_of:
                    cols.append(
                        _nm_rebuild(
                            F.col(pname),
                            fld.dataType,
                            nested_dt_of[fld.name],
                        ).alias(fld.name)
                    )
                else:
                    cols.append(F.col(pname).alias(fld.name))
            df = df.select(
                *cols,
                *(["__ice_file", "__ice_pos"] if need_meta else []),
            )
            # NESTED initial-defaults (round 11): this group's files
            # physically lack the dotted path, so the parquet scan
            # surfaced null there for every row — inject the default
            # unconditionally via withField (null parent structs stay
            # null: a row whose struct is null has no fields to
            # default).  Files carrying the path are in other groups
            # and keep their stored values, legitimate nulls included.
            for mpath in missing_defaults:
                if "." not in mpath:
                    continue
                head, _, rest = mpath.partition(".")
                df = df.withColumn(
                    head, F.col(head).withField(rest, _default_col(mpath))
                )
        parts.append(df)
    for (_miss, base), group in sorted(hive_bases.items()):
        # ONE basePath scan reconstructs the identity partition columns
        # for every hive-consistent external file under this root —
        # the manifest values were verified against the dir names above.
        # On a name-mapped table this scan can only express IDENTITY
        # resolution (the enable_column_mapping migration, where
        # physical == logical); files whose footer needs a real alias
        # re-route to the per-partition attach path below.
        if nm_alias is not None:
            aliased = []
            ident = []
            for f in group:
                sig = _sig_for(f)
                ok = all(
                    name == fld.name
                    or (name is None and fld.name in _miss)
                    for fld, name in zip(scan_schema.fields, sig)
                )
                (ident if ok else aliased).append(f)
            group = ident
            for f in aliased:
                ext_groups.append(
                    ([f], {c: f.partition[c] for c in _miss})
                )
            if not group:
                continue
        df = (
            spark.read.schema(scan_schema)
            .option("basePath", base)
            .parquet(*[f.path for f in group])
        )
        if need_meta:
            df = _with_meta(df)
        order = [f.name for f in scan_schema.fields] + (
            ["__ice_file", "__ice_pos"] if need_meta else []
        )
        parts.append(df.select(*order))
    for group, attach in ext_groups:
        # name-mapped files read under their AS-WRITTEN (physical)
        # names — resolved per file against the footer, grouped by
        # signature — then project back to logical; unmapped files
        # keep the identity fast path
        if nm_alias is not None:
            by_sig: dict = {}
            for f in group:
                fp = str(_footer_schema(f.path)) if nm_nested else None
                by_sig.setdefault((_sig_for(f), fp), []).append(f)
            subgroups = sorted(by_sig.items(), key=lambda kv: str(kv[0]))
        else:
            subgroups = [((None, None), group)]
        for (sig, _fp), grp in subgroups:
            if sig is None:
                phys_of = {f.name: f.name for f in scan_schema.fields}
            else:
                phys_of = dict(
                    zip([f.name for f in scan_schema.fields], sig)
                )
            nested_dt_of = _nested_dts(grp[0].path, phys_of)
            sub = StructType(
                [
                    StructField(
                        phys_of[f.name],
                        nested_dt_of.get(f.name, f.dataType),
                        True,
                    )
                    for f in scan_schema.fields
                    if f.name not in attach
                    and phys_of[f.name] is not None
                ]
            )
            df = spark.read.schema(sub).parquet(*[f.path for f in grp])
            if need_meta:
                df = _with_meta(df)
            cols = []
            for fld in scan_schema.fields:
                pname = phys_of[fld.name]
                if fld.name in attach:
                    cols.append(
                        F.lit(attach[fld.name])
                        .cast(dtype_by_name[fld.name])
                        .alias(fld.name)
                    )
                elif pname is None:
                    cols.append(
                        F.lit(None).cast(fld.dataType).alias(fld.name)
                    )
                elif fld.name in nested_dt_of:
                    cols.append(
                        _nm_rebuild(
                            F.col(pname),
                            fld.dataType,
                            nested_dt_of[fld.name],
                        ).alias(fld.name)
                    )
                else:
                    cols.append(F.col(pname).alias(fld.name))
            parts.append(
                df.select(
                    *cols,
                    *(["__ice_file", "__ice_pos"] if need_meta else []),
                )
            )
    reader = parts[0]
    for p in parts[1:]:
        reader = reader.unionByName(p)
    if not deletes and not row_lineage:
        return residual(reader)

    data = reader
    base_cols = [c for c in data.columns if c not in _ROW_REF_COLS]
    pos_deletes = [
        d for d in deletes if d.content == 1 and d.file_format != "PUFFIN"
    ]
    dv_deletes = [d for d in deletes if d.file_format == "PUFFIN"]
    eq_deletes = [d for d in deletes if d.content == 2]
    # v3 DELETION VECTORS first: resolve each DV to its LOCAL planned
    # data file (O(files) driver maps), then decode the roaring bitmaps
    # EXECUTOR-side — one mapInPandas task per DV seek-reads its byte
    # range out of the puffin file — and anti-join like position
    # deletes.  Files covered by a DV IGNORE position-delete parquet
    # (spec supersede rule: the DV writer folded those in).
    by_orig = {f.orig_path: f for f in files}
    dv_covered: set = set()
    dv_plan = []
    for d in dv_deletes:
        ref = by_orig.get(d.referenced_data_file)
        if ref is None:
            continue  # targets a file pruned out of / absent from plan
        if d.sequence_number >= ref.sequence_number:
            dv_plan.append(
                (d.path, d.content_offset, d.content_size, ref.path)
            )
            dv_covered.add(ref.path)
    # O(data files) mapping: as-written path -> (local path, data seq,
    # DV-covered flag for the supersede rule).  Small tables embed it
    # as a literal plan expression (zero broadcast-build jobs,
    # lit_lookup); only large file sets build the DataFrame form.
    file_rows = [
        (f.orig_path, f.path, f.sequence_number, f.path in dv_covered)
        for f in files
    ]
    lit_meta = len(file_rows) <= LIT_MAP_MAX
    file_map = (
        None
        if lit_meta
        else meta_df(
            spark, file_rows,
            "orig string, local string, data_seq long, has_dv boolean",
        )
    )
    # PLAN-TIME untouched-file bypass (guide §6 file skipping, §1.2
    # order-1): every delete kind carries a sequence rule — a DV names
    # its file outright, a position delete applies only to files with
    # data_seq <= delete_seq, an equality delete only to STRICTLY older
    # files — so a data file whose sequence number post-dates every
    # delete (the freshly-appended half of an equality upsert, for
    # example) provably cannot lose a row.  Those files' rows bypass
    # the whole anti-join chain instead of streaming through 1-3 joins
    # whose condition is constant-false for them.  Purely integer
    # metadata the planner already holds; row-level conditions on the
    # touched branch are unchanged, so results are identical.
    max_pos_seq = max(
        (d.sequence_number for d in pos_deletes), default=None
    )
    max_eq_seq = max(
        (d.sequence_number for d in eq_deletes), default=None
    )

    def _maybe_touched(f) -> bool:
        if f.path in dv_covered:
            return True
        if (
            pos_deletes
            and max_pos_seq >= f.sequence_number
            and f.path not in dv_covered
        ):
            return True
        return bool(eq_deletes) and max_eq_seq > f.sequence_number

    untouched_bypass = None
    touched_paths = [f.path for f in files if _maybe_touched(f)]
    if (
        deletes
        and "__ice_file" in data.columns
        and len(touched_paths) < len(files)
        and len(files) <= 4096  # InSet literal list stays plan-cheap
    ):
        in_touched = F.col("__ice_file").isin(touched_paths)
        untouched_bypass = data.where(~in_touched)
        data = data.where(in_touched)
    if dv_plan:
        dv_df = meta_df(
            spark, dv_plan,
            "dfile string, off long, size long, __ice_file string",
        )

        def _decode_dvs(batches):
            import pandas as pd

            from .puffin_lite import read_dv

            for pdf in batches:
                for dfile, off, size, local in zip(
                    pdf["dfile"], pdf["off"], pdf["size"], pdf["__ice_file"]
                ):
                    pos = read_dv(dfile, int(off), int(size))
                    yield pd.DataFrame(
                        {
                            "__ice_file": [local] * len(pos),
                            "__ice_pos": pd.Series(pos, dtype="int64"),
                        }
                    )

        dv_rows = dv_df.repartition(
            max(1, min(len(dv_plan), 64))
        ).mapInPandas(_decode_dvs, "__ice_file string, __ice_pos long")
        data = data.join(dv_rows, ["__ice_file", "__ice_pos"], "left_anti")
    if pos_deletes:
        # O(delete files) mapping: local delete file -> its sequence number
        del_base = spark.read.schema(_POS_DELETE_COLS).parquet(
            *[d.path for d in pos_deletes]
        ).select(
            F.col("file_path").alias("orig"),
            F.col("pos").alias("__ice_pos"),
            _norm(F.col("_metadata.file_path")).alias("dfile"),
        )
        if lit_meta and len(pos_deletes) <= LIT_MAP_MAX:
            # both maps as literal lookups: a delete row referencing a
            # file outside the plan reads a null struct and fails the
            # non-null seq comparison — same rows the inner join kept
            dsq = lit_lookup(
                [(d.path, d.sequence_number) for d in pos_deletes],
                F.col("dfile"), [("delete_seq", "long")],
            )
            fm = lit_lookup(
                file_rows, F.col("orig"),
                [("local", "string"), ("data_seq", "long"),
                 ("has_dv", "boolean")],
            )
            del_rows = (
                del_base
                .withColumn("__dsq", dsq)
                .withColumn("__fm", fm)
                .where(F.col("__dsq.delete_seq") >= F.col("__fm.data_seq"))
                .where(~F.col("__fm.has_dv"))
                .select(F.col("__fm.local").alias("__ice_file"), "__ice_pos")
            )
        else:
            if file_map is None:  # small file set but huge delete set
                file_map = meta_df(
                    spark, file_rows,
                    "orig string, local string, data_seq long, has_dv boolean",
                )
            del_map = meta_df(
                spark,
                [(d.path, d.sequence_number) for d in pos_deletes],
                "dfile string, delete_seq long",
            )
            del_rows = (
                del_base
                .join(broadcast_meta(del_map), "dfile")
                .join(broadcast_meta(file_map), "orig")
                .where(F.col("delete_seq") >= F.col("data_seq"))
                .where(~F.col("has_dv"))
                .select(F.col("local").alias("__ice_file"), "__ice_pos")
            )
        data = data.join(del_rows, ["__ice_file", "__ice_pos"], "left_anti")
    if eq_deletes:
        # Equality deletes (spec §Equality Delete Files): a delete row
        # removes every data row that matches it on the equated columns
        # (null == null counts as a match) in data files with a STRICTLY
        # smaller data sequence number — the Flink-CDC upsert shape.
        # Applied as one distributed null-safe anti-join per distinct
        # (equality_ids, partition scope) group; only O(files) seq
        # mappings broadcast.  A delete manifest entry carrying a
        # non-null partition tuple is PARTITION-SCOPED (spec §Scan
        # Planning: "an equality delete file must be applied to data
        # files from the same partition" when it has one) — the scope
        # columns join the anti-join condition so rows in other
        # partitions are never over-deleted (ADVICE r7).  Identity
        # partition values compare as strings: manifests serialize the
        # literal, data files store the typed column.  A scope on a
        # TRANSFORMED spec field (``ts_day=18262``, the partitioned
        # Flink-CDC default) applies by recomputing the transform over
        # the source column — data files store source columns, so
        # ``day(ts) == 18262`` is exactly the file-side membership test.
        scope_meta = plan.meta
        names_by_id = _field_names_by_id(scope_meta)
        # scope fields resolve across EVERY live spec (partition-spec
        # evolution: a delete scoped under the old months(ts) spec must
        # still recompute month(ts), not fail the default-spec lookup);
        # spec field names embed the transform, so they are unique
        scope_spec = {}
        for _sid in [
            s.get("spec-id", 0)
            for s in scope_meta.get("partition-specs") or [{}]
        ]:
            for f in _partition_spec_fields(scope_meta, _sid):
                scope_spec.setdefault(f.name, f)
        base_types = dict(reader.dtypes)
        if lit_meta:
            # every data row's __ice_file is in the plan's file set, so
            # the literal lookup never misses (== the old inner join)
            data = data.withColumn(
                "data_seq",
                lit_lookup(
                    [(local, seq) for _o, local, seq, _dv in file_rows],
                    F.col("__ice_file"), [("data_seq", "long")],
                )["data_seq"],
            )
        else:
            data = data.join(
                broadcast_meta(
                    file_map.select(
                        F.col("local").alias("__ice_file"), "data_seq"
                    )
                ),
                "__ice_file",
            )
        # Group by (equality_ids, scope FIELD NAMES) — not scope VALUES:
        # every delete file of a partitioned CDC stream shares one field
        # set, so the whole stream applies as ONE anti-join whose scope
        # values travel as broadcast join keys.  Grouping by value would
        # re-scan the data once per partition (8 anti-joins for a
        # bucket[8] table, thousands for a day-partitioned year).
        groups: dict = {}
        for d in eq_deletes:
            scope_fields = tuple(s[0] for s in d.partition_scope)
            groups.setdefault((d.equality_ids, scope_fields), []).append(d)
        for (eq_ids, scope_fields), group in sorted(groups.items()):
            try:
                cols = [names_by_id[i] for i in eq_ids]
            except KeyError as exc:
                raise IcebergLiteError(
                    f"equality_ids {eq_ids} not in table schema"
                ) from exc
            missing = [c for c in cols if c not in base_cols]
            if missing:
                raise IcebergLiteError(
                    f"equality-delete columns absent from data: {missing}"
                )
            # Data-side membership expression per scope field, computed
            # ONCE for the whole group: identity compares the source
            # column, a transformed spec recomputes the transform over
            # the source column (data files store source columns; the
            # partition value is metadata-only) — ``day(ts) == 18262``
            # is exactly the file-side membership test.
            scope_exprs = []
            for pcol in scope_fields:
                field = scope_spec.get(pcol)
                if field is not None and field.kind != "identity":
                    if field.source not in base_cols:
                        raise IcebergLiteError(
                            f"partition-scoped equality delete on "
                            f"{pcol!r}: source column {field.source!r} "
                            "absent from the data files"
                        )
                    expr = transform_expr(
                        field.transform,
                        field.source,
                        base_types.get(field.source, "string"),
                    )
                else:
                    src = field.source if field is not None else pcol
                    if src not in base_cols:
                        raise IcebergLiteError(
                            "partition-scoped equality delete names "
                            "partition columns absent from the data "
                            f"files: [{src!r}]"
                        )
                    expr = F.col(src)
                scope_exprs.append((pcol, expr.cast("string")))
            # O(delete files) mapping: file -> (sequence, scope values)
            eq_rows = [
                (d.path, d.sequence_number, *[
                    dict(d.partition_scope).get(pcol)
                    for pcol in scope_fields
                ])
                for d in group
            ]
            eq_base = _eq_delete_reader(
                spark, scope_meta, eq_ids, cols
            ).parquet(*[d.path for d in group]).select(
                *[F.col(c).alias(f"__eq_{c}") for c in cols],
                _norm(F.col("_metadata.file_path")).alias("dfile"),
            )
            if len(eq_rows) <= LIT_MAP_MAX:
                # literal lookup never misses: dfile ranges over
                # exactly this group's delete files
                eqm = lit_lookup(
                    eq_rows, F.col("dfile"),
                    [("delete_seq", "long")]
                    + [(f"__eq_scope_{i}", "string")
                       for i in range(len(scope_fields))],
                )
                del_rows = eq_base.select(
                    "*",
                    eqm["delete_seq"].alias("delete_seq"),
                    *[
                        eqm[f"__eq_scope_{i}"].alias(f"__eq_scope_{i}")
                        for i in range(len(scope_fields))
                    ],
                ).drop("dfile")
            else:
                eq_map = meta_df(
                    spark,
                    eq_rows,
                    ", ".join(
                        ["dfile string", "delete_seq long"]
                        + [f"__eq_scope_{i} string"
                           for i in range(len(scope_fields))]
                    ),
                )
                del_rows = eq_base.join(
                    broadcast_meta(eq_map), "dfile"
                ).drop("dfile")
            cond = F.col("delete_seq") > F.col("data_seq")
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            for i, (_pcol, expr) in enumerate(scope_exprs):
                cond = cond & (expr == F.col(f"__eq_scope_{i}"))
            data = data.join(del_rows, cond, "left_anti")
        data = data.drop("data_seq")
    if untouched_bypass is not None:
        # rows of files no delete can touch rejoin after the chain
        data = data.unionByName(untouched_bypass)
    if row_lineage:
        # _row_id: a MATERIALIZED value in the data file wins (spec
        # §Row Lineage — UPDATE/compaction write the moved row's id
        # into the new file), else the file's first_row_id + position
        # (null for files predating a v3 upgrade — lazy assignment).
        # _last_updated_sequence_number: materialized value (carried
        # unmodified rows keep their original) else the file's data
        # sequence number (fresh/updated rows were last touched by the
        # commit that wrote the file).  One broadcast O(files) map
        # join, zero extra scans.
        lin_rows = [(f.path, f.first_row_id, f.sequence_number) for f in files]
        mat_rid = (
            F.col("_row_id")
            if "_row_id" in data.columns
            else F.lit(None).cast("long")
        )
        mat_lus = (
            F.col("_last_updated_sequence_number")
            if "_last_updated_sequence_number" in data.columns
            else F.lit(None).cast("long")
        )
        if len(lin_rows) <= LIT_MAP_MAX:
            # literal lookup never misses: __ice_file ranges over the
            # plan's own file set (== the old inner join)
            linm = lit_lookup(
                lin_rows, F.col("__ice_file"),
                [("__ice_fri", "long"), ("__ice_seq", "long")],
            )
            data = data.withColumn(
                "__ice_fri", linm["__ice_fri"]
            ).withColumn("__ice_seq", linm["__ice_seq"])
        else:
            lin = meta_df(
                spark, lin_rows,
                "__ice_file string, __ice_fri long, __ice_seq long",
            )
            data = data.join(broadcast_meta(lin), "__ice_file")
        data = (
            data
            .withColumn(
                "__ice_rid",
                F.coalesce(
                    mat_rid,
                    F.when(
                        F.col("__ice_fri").isNotNull(),
                        F.col("__ice_fri") + F.col("__ice_pos"),
                    ),
                ),
            )
            .withColumn(
                "__ice_lus", F.coalesce(mat_lus, F.col("__ice_seq"))
            )
            .drop("_row_id", "_last_updated_sequence_number")
            .withColumnRenamed("__ice_rid", "_row_id")
            .withColumnRenamed(
                "__ice_lus", "_last_updated_sequence_number"
            )
        )
    keep = (
        base_cols
        + (["__ice_file", "__ice_pos"] if _row_refs else [])
        + (
            ["_row_id", "_last_updated_sequence_number"]
            if row_lineage
            else []
        )
    )
    return residual(data.select(keep))


# ------------------------------------------------------------ write path
#
# A pure-Python Iceberg v2 WRITER to pair with the reader above, from
# the same open spec: distributed parquet data files (identity
# partition columns kept IN the files, Iceberg convention), one Avro
# manifest per commit, per-snapshot manifest lists carrying v2 sequence
# numbers, and a new ``vN.metadata.json`` per commit.  The commit point
# is an O_EXCL create of the next metadata file (the HadoopTables
# atomic-swap convention on a POSIX filesystem); a loser re-reads and
# retries.  MERGE is MERGE-ON-READ: matched target rows become rows in
# a position-delete file (spec §Position Delete Files — sorted by
# (file_path, pos)) and the full source appends as new data files — no
# survivor rewrite, which is exactly why MOR is the low-write-
# amplification upsert for 100 TB tables; the reader above applies the
# deletes as a distributed anti-join.  Reference parity: the entity
# primary table is CREATE'd as format-version 2 and MERGE'd
# (etl_consume_entity_match.py:385-389,449-455).


class ConcurrentIcebergWrite(IcebergLiteError):
    """Another writer claimed the next metadata version first."""


_MANIFEST_LIST_FIELDS = [
    ("manifest_path", "string"),
    ("manifest_length", "long"),
    ("partition_spec_id", "int"),
    ("content", "int"),
    ("sequence_number", "long"),
    ("added_snapshot_id", "long"),
    # v3 ROW LINEAGE: the _row_id of the first row in this manifest's
    # first null-first_row_id data file (spec field 520); null on
    # delete manifests and pre-v3 commits
    ("first_row_id", ["null", "long"]),
]


def _manifest_schema(part_cols: list[str]) -> list[tuple]:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "file_format", "type": "string"},
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": [
                        {"name": c, "type": ["null", "string"]}
                        for c in part_cols
                    ],
                },
            },
            {"name": "record_count", "type": "long"},
            {"name": "file_size_in_bytes", "type": "long"},
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
            },
            {
                "name": "lower_bounds",
                "type": ["null", {
                    "type": "array",
                    "items": {
                        "type": "record", "name": "k126_v127",
                        "fields": [{"name": "key", "type": "int"},
                                   {"name": "value", "type": "bytes"}],
                    },
                }],
            },
            {
                "name": "upper_bounds",
                "type": ["null", {
                    "type": "array",
                    "items": {
                        "type": "record", "name": "k129_v130",
                        "fields": [{"name": "key", "type": "int"},
                                   {"name": "value", "type": "bytes"}],
                    },
                }],
            },
            # v3 fields: DELETION-VECTOR reference (spec 143-145) and
            # row-lineage first_row_id (142); null everywhere else
            {"name": "referenced_data_file", "type": ["null", "string"]},
            {"name": "content_offset", "type": ["null", "long"]},
            {"name": "content_size_in_bytes", "type": ["null", "long"]},
            {"name": "first_row_id", "type": ["null", "long"]},
            # spec field 140: the sort order the file was written
            # under (null = unsorted/unknown); stamped by sorted
            # rewrites (round 11)
            {"name": "sort_order_id", "type": ["null", "int"]},
        ],
    }
    return [
        ("status", "int"),
        ("snapshot_id", ["null", "long"]),
        # null on normal commits (inherits the manifest-list sequence
        # number, spec §Sequence Number Inheritance); EXPLICIT on
        # entries rewritten by rewrite_manifests, which merges entries
        # from manifests with DIFFERENT sequence numbers into one file
        ("sequence_number", ["null", "long"]),
        ("data_file", data_file),
    ]


_SPARK_TO_ICEBERG_TYPE = {
    "bigint": "long",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
}


#: iceberg primitive -> spark type string (reads drive off the TABLE
#: schema, not whatever one parquet file happens to carry)
_ICEBERG_TO_SPARK_TYPE = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
    "uuid": "string",
}


def _spark_type_from_ice(ice):
    """One iceberg schema type -> Spark DataType, or None when there is
    no mapping.  Plain type objects, never ``fromDDL``: this also runs
    inside Python DataSource workers, which have no JVM session."""
    import re as _re

    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    simple = {
        "long": LongType(),
        "int": IntegerType(),
        "double": DoubleType(),
        "float": FloatType(),
        "string": StringType(),
        "boolean": BooleanType(),
        "date": DateType(),
        "binary": BinaryType(),
        "timestamptz": TimestampType(),
        "timestamp": TimestampNTZType(),
        "uuid": StringType(),
    }
    if isinstance(ice, dict):
        kind = ice.get("type")
        if kind == "struct":
            subs = []
            for sub in ice.get("fields", []):
                t = _spark_type_from_ice(sub.get("type"))
                if t is None:
                    return None
                subs.append(StructField(sub["name"], t, True))
            return StructType(subs)
        if kind == "list":
            el = _spark_type_from_ice(ice.get("element"))
            if el is None:
                return None
            return ArrayType(el, not bool(ice.get("element-required")))
        if kind == "map":
            k = _spark_type_from_ice(ice.get("key"))
            v = _spark_type_from_ice(ice.get("value"))
            if k is None or v is None:
                return None
            return MapType(k, v, not bool(ice.get("value-required")))
        return None
    m = _re.match(r"^decimal\((\d+),\s*(\d+)\)$", ice or "")
    if m:
        return DecimalType(int(m.group(1)), int(m.group(2)))
    return simple.get(ice)


def _default_literal(ice, value):
    """An iceberg JSON single-value (spec Appendix D: struct = object
    keyed by FIELD ID strings, list = array, map = {"keys": [...],
    "values": [...]}, binary = hex string, temporal = ISO strings) as a
    Spark literal Column of the matching type — the v3
    initial-/write-default materialization expression.  Returns None
    when the (type, value) pair has no faithful mapping; callers
    refuse by name rather than misread."""
    from pyspark.sql import functions as F

    sp = _spark_type_from_ice(ice)
    if sp is None:
        return None
    if value is None:
        return F.lit(None).cast(sp)
    if isinstance(ice, dict):
        kind = ice.get("type")
        if kind == "struct":
            if not isinstance(value, dict):
                return None
            parts = []
            for sub in ice.get("fields", []):
                sub_v = value.get(str(sub["id"]))
                c = _default_literal(sub.get("type"), sub_v)
                if c is None:
                    return None
                parts.append(c.alias(sub["name"]))
            return F.struct(*parts).cast(sp)
        if kind == "list":
            if not isinstance(value, list):
                return None
            items = [
                _default_literal(ice.get("element"), v) for v in value
            ]
            if any(i is None for i in items):
                return None
            if not items:
                return F.array().cast(sp)
            return F.array(*items).cast(sp)
        if kind == "map":
            if not isinstance(value, dict):
                return None
            keys = value.get("keys")
            vals = value.get("values")
            if not isinstance(keys, list) or not isinstance(vals, list):
                return None
            kc = [_default_literal(ice.get("key"), k) for k in keys]
            vc = [_default_literal(ice.get("value"), v) for v in vals]
            if any(c is None for c in kc) or any(c is None for c in vc):
                return None
            if not kc:
                return F.map_from_arrays(F.array(), F.array()).cast(sp)
            return F.map_from_arrays(
                F.array(*kc), F.array(*vc)
            ).cast(sp)
        return None
    if isinstance(value, (dict, list)):
        return None  # composite value on a primitive type
    if ice == "binary" or str(ice).startswith("fixed"):
        try:
            return F.lit(bytes.fromhex(value)).cast(sp)
        except (TypeError, ValueError):
            return None
    return F.lit(value).cast(sp)


def _merge_nested_write_defaults(ice, value):
    """A struct default value with every nested field's OWN
    write-default merged in where the stored value predates that field
    (each field's default resolves independently — spec §Default
    values).  Recurses through struct chains; non-struct types pass
    through."""
    if not isinstance(ice, dict) or ice.get("type") != "struct":
        return value
    if not isinstance(value, dict):
        return value
    out = dict(value)
    for f in ice.get("fields", []):
        key = str(f["id"])
        if key not in out and f.get("write-default") is not None:
            out[key] = f["write-default"]
        if key in out:
            out[key] = _merge_nested_write_defaults(
                f.get("type"), out[key]
            )
    return out


def _valid_default_json(ice, value) -> bool:
    """Pure structural twin of :func:`_default_literal` — DDL-time
    validation without building Columns (alter_iceberg_schema has no
    session).  True when the JSON single-value fits the iceberg type."""
    if value is None:
        return True
    if isinstance(ice, dict):
        kind = ice.get("type")
        if kind == "struct":
            if not isinstance(value, dict):
                return False
            by_id = {str(f["id"]): f["type"] for f in ice.get("fields", [])}
            return set(value) <= set(by_id) and all(
                _valid_default_json(by_id[k], v) for k, v in value.items()
            )
        if kind == "list":
            return isinstance(value, list) and all(
                _valid_default_json(ice.get("element"), v) for v in value
            )
        if kind == "map":
            return (
                isinstance(value, dict)
                and isinstance(value.get("keys"), list)
                and isinstance(value.get("values"), list)
                and len(value["keys"]) == len(value["values"])
                and all(
                    _valid_default_json(ice.get("key"), k)
                    for k in value["keys"]
                )
                and all(
                    _valid_default_json(ice.get("value"), v)
                    for v in value["values"]
                )
            )
        return False
    if ice == "binary" or str(ice).startswith("fixed"):
        try:
            bytes.fromhex(value)
            return True
        except (TypeError, ValueError):
            return False
    # primitive TYPE agreement (round-11 review: a type-mismatched
    # DEFAULT must refuse at DDL time, not surface as a NULL/ANSI cast
    # error at read time)
    if ice in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if ice in ("float", "double"):
        return isinstance(value, (int, float)) and not isinstance(
            value, bool
        )
    if ice == "boolean":
        return isinstance(value, bool)
    if ice in ("string", "uuid"):
        return isinstance(value, str)
    if str(ice).startswith("decimal("):
        if isinstance(value, bool) or not isinstance(
            value, (int, float, str)
        ):
            return False
        try:
            from decimal import Decimal, InvalidOperation

            Decimal(str(value))
            return True
        except (InvalidOperation, ValueError):
            return False
    if ice == "date":
        import datetime

        try:
            datetime.date.fromisoformat(str(value))
            return True
        except (TypeError, ValueError):
            return False
    if ice in ("timestamp", "timestamptz"):
        import datetime

        try:
            datetime.datetime.fromisoformat(str(value))
            return True
        except (TypeError, ValueError):
            return False
    return not isinstance(value, (dict, list))


def _mint_ice_type_ids(t, next_id: int):
    """A deep copy of iceberg type object ``t`` with every nested field
    minting the next fresh id (``element-id``/``key-id``/``value-id``
    included) — used by ADD COLUMN of struct/list/map types.  Returns
    (typed object, last id used)."""
    if not isinstance(t, dict):
        return t, next_id
    kind = t.get("type")
    if kind == "struct":
        fields = []
        for f in t.get("fields", []):
            next_id += 1
            fid = next_id
            sub_t, next_id = _mint_ice_type_ids(f.get("type"), next_id)
            fields.append(
                {
                    "id": fid,
                    "name": f["name"],
                    "required": False,
                    "type": sub_t,
                }
            )
        return {"type": "struct", "fields": fields}, next_id
    if kind == "list":
        next_id += 1
        eid = next_id
        el_t, next_id = _mint_ice_type_ids(t.get("element"), next_id)
        return (
            {
                "type": "list",
                "element-id": eid,
                "element": el_t,
                "element-required": False,
            },
            next_id,
        )
    if kind == "map":
        next_id += 1
        kid = next_id
        next_id += 1
        vid = next_id
        k_t, next_id = _mint_ice_type_ids(t.get("key"), next_id)
        v_t, next_id = _mint_ice_type_ids(t.get("value"), next_id)
        return (
            {
                "type": "map",
                "key-id": kid,
                "value-id": vid,
                "key": k_t,
                "value": v_t,
                "value-required": False,
            },
            next_id,
        )
    return t, next_id


def _name_keyed_to_id_keyed(ice, value):
    """API convenience -> spec storage form: a struct default given as
    a NAME-keyed dict (the caller cannot know ids that are minted in
    the same commit) re-keys recursively by the minted field ids.
    Already-id-keyed input (all keys digits matching ids) passes
    through.  Lists/maps recurse into their element/value types."""
    if not isinstance(ice, dict) or value is None:
        return value
    kind = ice.get("type")
    if kind == "struct" and isinstance(value, dict):
        by_id = {str(f["id"]) for f in ice.get("fields", [])}
        if set(value) <= by_id:
            return {
                k: _name_keyed_to_id_keyed(
                    next(
                        f["type"]
                        for f in ice["fields"]
                        if str(f["id"]) == k
                    ),
                    v,
                )
                for k, v in value.items()
            }
        names = {f["name"] for f in ice.get("fields", [])}
        unknown = set(value) - names
        if unknown:
            # a typo'd key must never silently vanish into an
            # empty/partial stored default
            raise IcebergLiteError(
                f"struct default keys {sorted(unknown)} match neither a "
                f"field id nor a field name of {sorted(names)}"
            )
        out = {}
        for f in ice.get("fields", []):
            if f["name"] in value:
                out[str(f["id"])] = _name_keyed_to_id_keyed(
                    f["type"], value[f["name"]]
                )
        return out
    if kind == "list" and isinstance(value, list):
        return [
            _name_keyed_to_id_keyed(ice.get("element"), v) for v in value
        ]
    if kind == "map" and isinstance(value, dict):
        keys = value.get("keys", [])
        vals = value.get("values", [])
        return {
            "keys": [
                _name_keyed_to_id_keyed(ice.get("key"), k) for k in keys
            ],
            "values": [
                _name_keyed_to_id_keyed(ice.get("value"), v)
                for v in vals
            ],
        }
    return value


def _spark_schema_from_meta(meta: dict):
    """The CURRENT metadata schema as a Spark StructType, or None when
    any field's type has no mapping (reads then fall back to parquet
    self-description).  Reading by the TABLE schema is what makes
    schema evolution work: files written before an added column simply
    surface it as null, and files carrying dropped/extra columns do not
    leak them."""
    from pyspark.sql.types import StructField, StructType

    schemas = meta.get("schemas") or []
    cur_id = meta.get("current-schema-id", 0)
    schema = None
    for s in schemas:
        if s.get("schema-id") == cur_id:
            schema = s
    if schema is None and schemas:
        schema = schemas[-1]
    if not schema:
        return None
    fields = []
    for f in schema.get("fields", []):
        spark_t = _spark_type_from_ice(f.get("type"))
        if spark_t is None:
            return None  # unknown types: fall back to parquet footers
        fields.append(StructField(f["name"], spark_t, True))
    return StructType(fields)


def _name_history(meta: dict):
    """Per-schema field naming, for tables whose schema history RENAMED
    a current field or RETIRED a field whose name a current field now
    reuses (drop + re-add).  Returns None when per-file name resolution
    is unnecessary — the overwhelmingly common case, so unaltered
    tables pay nothing.  ``seq_map`` maps a data file's sequence number
    to the schema-id current at its commit (spec: snapshots record
    their ``schema-id``)."""
    schemas = meta.get("schemas") or []
    if len(schemas) <= 1:
        return None
    cur = None
    cur_id = meta.get("current-schema-id", 0)
    for s in schemas:
        if s.get("schema-id") == cur_id:
            cur = s
    if cur is None:
        cur = schemas[-1]
    cur_map = {int(f["id"]): f["name"] for f in cur.get("fields", [])}
    maps = {
        int(s.get("schema-id") or 0): {
            int(f["id"]): f["name"] for f in s.get("fields", [])
        }
        for s in schemas
    }
    renamed = any(
        m.get(fid) not in (None, name)
        for m in maps.values()
        for fid, name in cur_map.items()
    )
    cur_names = set(cur_map.values())
    retired_reuse = any(
        name in cur_names and fid not in cur_map
        for m in maps.values()
        for fid, name in m.items()
    )
    # NESTED naming history (round 10): a struct field renamed/dropped+
    # re-added INSIDE a column changes no top-level name, but files
    # written under the old nested layout must scan under it and
    # rebuild to current names BY FIELD ID (never by name — a re-added
    # nested name must not resurrect the retired field's bytes)
    cur_types = {
        int(f["id"]): f["type"] for f in cur.get("fields", [])
    }
    types = {
        int(s.get("schema-id") or 0): {
            int(f["id"]): f["type"] for f in s.get("fields", [])
        }
        for s in schemas
    }
    nested = any(
        fid in m and _nested_naming_conflict(t, m[fid])
        for m in types.values()
        for fid, t in cur_types.items()
    )
    if not renamed and not retired_reuse and not nested:
        return None
    seq_map = {}
    for snap in meta.get("snapshots") or []:
        sid = snap.get("schema-id")
        if sid is not None:
            seq_map[int(snap.get("sequence-number", 0))] = int(sid)
    return {
        "maps": maps,
        "cur_map": cur_map,
        "cur_ids": {n: i for i, n in cur_map.items()},
        "seq_map": seq_map,
        "nested": nested,
        "types": types,
        "cur_types": cur_types,
    }


def _nested_naming_conflict(cur_ice, old_ice) -> bool:
    """Whether files written under ``old_ice`` can NOT be read under
    the current type by plain name matching: a field id bound to a
    DIFFERENT name (rename — the old file's column would read null),
    or a name bound to a different id in each era (drop + re-add — the
    retired field's bytes would resurrect).  Pure nested ADDs/DROPs
    keep (id, name) bindings consistent and read fine natively, so
    they do NOT force the grouped-scan path."""
    if not (isinstance(cur_ice, dict) and isinstance(old_ice, dict)):
        return False
    if cur_ice.get("type") != old_ice.get("type"):
        return False  # kind change: old bytes unreadable either way
    kind = cur_ice.get("type")
    if kind == "struct":
        cur_fields = cur_ice.get("fields", [])
        old_fields = old_ice.get("fields", [])
        old_by_id = {int(f["id"]): f for f in old_fields}
        old_by_name = {f["name"]: int(f["id"]) for f in old_fields}
        for cf in cur_fields:
            of = old_by_id.get(int(cf["id"]))
            if of is not None and of["name"] != cf["name"]:
                return True  # renamed nested field
            oid = old_by_name.get(cf["name"])
            if oid is not None and oid != int(cf["id"]):
                return True  # retired name re-added under a new id
            if of is not None and _nested_naming_conflict(
                cf["type"], of["type"]
            ):
                return True
        return False
    if kind == "list":
        return _nested_naming_conflict(
            cur_ice.get("element"), old_ice.get("element")
        )
    return _nested_naming_conflict(
        cur_ice.get("key"), old_ice.get("key")
    ) or _nested_naming_conflict(
        cur_ice.get("value"), old_ice.get("value")
    )


def _names_tree(ice):
    """The (id -> name) assignment of an iceberg type, recursively —
    the part of the schema a RENAME/DROP/RE-ADD changes.  Primitives
    (and primitive promotions, which the parquet reader upcasts
    natively) contribute nothing, so pure widening history never forces
    the grouped-scan path."""
    if not isinstance(ice, dict):
        return None
    kind = ice.get("type")
    if kind == "struct":
        return tuple(sorted(
            (int(f["id"]), f["name"], _names_tree(f["type"]))
            for f in ice.get("fields", [])
        ))
    if kind == "list":
        return ("list", _names_tree(ice.get("element")))
    return (
        "map", _names_tree(ice.get("key")),
        _names_tree(ice.get("value")),
    )


def _hist_rebuild(col, cur_ice, wr_ice):
    """Projection rebuilding a column scanned under its AS-WRITTEN
    nested layout (``wr_ice``) into the CURRENT schema's layout
    (``cur_ice``), matched by FIELD ID at every level — pure Catalyst
    (struct/transform/map_from_arrays), zero Python.  Nested fields the
    file predates read null; retired ids' bytes are unreachable."""
    from pyspark.sql import functions as F

    if cur_ice == wr_ice:
        return col
    if not isinstance(cur_ice, dict):
        cur_sp = _spark_type_from_ice(cur_ice)
        # promoted primitive: the group scanned the as-written type
        return col.cast(cur_sp) if cur_sp is not None else col
    kind = cur_ice.get("type")
    if kind == "struct":
        wr_by_id = {}
        if isinstance(wr_ice, dict):
            wr_by_id = {
                int(f["id"]): f for f in wr_ice.get("fields", [])
            }
        parts = []
        for cf in cur_ice.get("fields", []):
            wf = wr_by_id.get(int(cf["id"]))
            if wf is None:
                parts.append(
                    F.lit(None)
                    .cast(_spark_type_from_ice(cf["type"]))
                    .alias(cf["name"])
                )
            else:
                parts.append(
                    _hist_rebuild(
                        col[wf["name"]], cf["type"], wf["type"]
                    ).alias(cf["name"])
                )
        return F.when(col.isNotNull(), F.struct(*parts))
    if kind == "list":
        return F.transform(
            col,
            lambda x: _hist_rebuild(
                x, cur_ice.get("element"), wr_ice.get("element")
            ),
        )
    # map: keys never change shape (no evolution on keys)
    return F.map_from_arrays(
        F.map_keys(col),
        F.transform(
            F.map_values(col),
            lambda v: _hist_rebuild(
                v, cur_ice.get("value"), wr_ice.get("value")
            ),
        ),
    )


def _file_schema_id(history: dict, f) -> int:
    """The schema-id a planned data file was written under: exact
    sequence-number match against the snapshot records, else the
    nearest EARLIER snapshot (its schema was still current when the
    file committed).  A file older than every surviving snapshot
    refuses — after expire_snapshots erased the history there is no
    honest way to know which name the file's columns carry."""
    seq_map = history["seq_map"]
    sid = seq_map.get(f.sequence_number)
    if sid is not None:
        return sid
    earlier = [q for q in seq_map if q <= f.sequence_number]
    if earlier:
        return seq_map[max(earlier)]
    raise IcebergLiteError(
        f"data file {f.path} predates every surviving snapshot of a "
        "RENAME/DROP-COLUMN-altered table; its column names cannot be "
        "resolved (expire_snapshots erased the schema history) — "
        "rewrite_data_files before expiring on altered tables"
    )


def _evolve_schema_fields(meta: dict, df: DataFrame) -> list[dict]:
    """Schema EVOLUTION for an append (spec §Schema Evolution): existing
    columns keep their FIELD IDS (everything — equality deletes, bounds
    maps, partition specs — resolves through ids, which is why Iceberg
    evolution is safe where Hive's is not); new columns mint the next
    ids; a widened column (int->long, float->double) promotes the
    schema type; an incompatible retype raises.  Columns the append
    omits stay in the schema (their missing values read as null)."""
    schemas = meta.get("schemas") or []
    cur_id = meta.get("current-schema-id", 0)
    cur = None
    for s in schemas:
        if s.get("schema-id") == cur_id:
            cur = s
    if cur is None and schemas:
        cur = schemas[-1]
    if cur is None:
        return _ice_schema_fields(df)
    fields = [dict(f) for f in cur.get("fields", [])]
    by_name = {f["name"]: f for f in fields}
    # floor at last-column-id: after DROP COLUMN the current schema's
    # max id can sit below a RETIRED field's id — reusing it would bind
    # the old field's bounds maps and equality-delete references to the
    # new column (the spec's id-reuse prohibition).  Nested ids count.
    max_id = int(meta.get("last-column-id", 0) or 0)
    for f in fields:
        max_id = max(max_id, int(f["id"]), *(
            list(_walk_type_ids(f["type"])) or [0]
        ))
    counter = {"v": max_id}

    def mint() -> int:
        counter["v"] += 1
        return counter["v"]

    for f in df.schema.fields:
        # signature first (ids all zero — no ids are minted unless the
        # column is genuinely new)
        sig = _ice_type_sig(_ice_type_of(f.dataType, lambda: 0))
        have = by_name.get(f.name)
        if have is None:
            fid = mint()
            new = {"id": fid, "name": f.name, "required": False,
                   "type": _ice_type_of(f.dataType, mint)}
            fields.append(new)
            by_name[f.name] = new
        elif _ice_type_sig(have["type"]) != sig:
            have["type"] = _merge_ice_type(
                have["type"], _ice_type_of(f.dataType, lambda: 0),
                mint, f.name,
            )
    return fields


_WIDEN = {("int", "long"), ("float", "double")}


def _merge_ice_type(have, want, mint, path):
    """Recursive NESTED shape evolution (spec §Schema Evolution applies
    at every level): struct fields match by NAME and keep their ids,
    genuinely-new nested fields mint fresh ids, fields the append omits
    stay in the schema (their values read null for the new files);
    int->long / float->double promote in place; any other retype —
    including struct<->list<->map<->primitive kind changes — refuses.
    ``want`` carries zero ids (the caller converts with a null minter);
    ids are only ever minted for fields that do not exist yet."""
    have_is_dict = isinstance(have, dict)
    want_is_dict = isinstance(want, dict)
    if not have_is_dict and not want_is_dict:
        if have == want:
            return have
        if (have, want) in _WIDEN:
            return want  # promotion, id preserved
        if (want, have) in _WIDEN:
            return have  # narrower write into a wider column: fine
        raise IcebergLiteError(
            f"append retypes {path!r} {have} -> {want}; only "
            "int->long and float->double promotions are legal evolution"
        )
    if (
        not have_is_dict
        or not want_is_dict
        or have.get("type") != want.get("type")
    ):
        raise IcebergLiteError(
            f"append changes the kind of {path!r} "
            f"({have if not have_is_dict else have.get('type')} -> "
            f"{want if not want_is_dict else want.get('type')}); "
            "struct/list/map kind changes are not legal evolution"
        )
    kind = have.get("type")
    if kind == "struct":
        merged = {"type": "struct", "fields": []}
        want_by_name = {w["name"]: w for w in want.get("fields", [])}
        seen = set()
        for hf in have.get("fields", []):
            g = dict(hf)
            wf = want_by_name.get(hf["name"])
            if wf is not None:
                seen.add(hf["name"])
                g["type"] = _merge_ice_type(
                    hf["type"], wf["type"], mint,
                    f"{path}.{hf['name']}",
                )
            merged["fields"].append(g)
        for wf in want.get("fields", []):
            if wf["name"] in seen:
                continue
            fid = mint()
            merged["fields"].append({
                "id": fid, "name": wf["name"], "required": False,
                "type": _remint_ids(wf["type"], mint),
            })
        return merged
    if kind == "list":
        g = dict(have)
        g["element"] = _merge_ice_type(
            have.get("element"), want.get("element"), mint,
            f"{path}.element",
        )
        return g
    # map: keys are identity (no evolution), values recurse
    if _ice_type_sig(have.get("key")) != _ice_type_sig(want.get("key")):
        raise IcebergLiteError(
            f"append retypes the map KEY of {path!r}; map keys do not "
            "evolve"
        )
    g = dict(have)
    g["value"] = _merge_ice_type(
        have.get("value"), want.get("value"), mint, f"{path}.value"
    )
    return g


def _remint_ids(ice, mint):
    """A deep copy of an iceberg type with every nested field id minted
    fresh — for brand-new nested fields arriving via evolution (their
    caller-side ids are the null minter's zeros)."""
    if not isinstance(ice, dict):
        return ice
    kind = ice.get("type")
    if kind == "struct":
        # evolution-added fields are optional at every level (spec:
        # new fields cannot be required without a default)
        return {
            "type": "struct",
            "fields": [
                {
                    "id": mint(), "name": f["name"],
                    "required": False,
                    "type": _remint_ids(f["type"], mint),
                }
                for f in ice.get("fields", [])
            ],
        }
    if kind == "list":
        return {
            "type": "list", "element-id": mint(),
            "element": _remint_ids(ice.get("element"), mint),
            "element-required": bool(ice.get("element-required")),
        }
    return {
        "type": "map", "key-id": mint(),
        "key": _remint_ids(ice.get("key"), mint),
        "value-id": mint(),
        "value": _remint_ids(ice.get("value"), mint),
        "value-required": bool(ice.get("value-required")),
    }


def _ice_type_of(dt, mint):
    """Spark DataType -> Iceberg schema type (spec §Schemas): nested
    struct/list/map become the spec's JSON object forms, every nested
    field/element/key/value minting a fresh field id via ``mint()`` —
    ids are the identity at EVERY nesting level."""
    from pyspark.sql.types import ArrayType, MapType
    from pyspark.sql.types import StructType as _SchST

    if isinstance(dt, _SchST):
        fields = []
        for f in dt.fields:
            fid = mint()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": False,
                    "type": _ice_type_of(f.dataType, mint),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, ArrayType):
        eid = mint()
        return {
            "type": "list",
            "element-id": eid,
            "element": _ice_type_of(dt.elementType, mint),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, MapType):
        kid = mint()
        vid = mint()
        return {
            "type": "map",
            "key-id": kid,
            "key": _ice_type_of(dt.keyType, mint),
            "value-id": vid,
            "value": _ice_type_of(dt.valueType, mint),
            "value-required": not dt.valueContainsNull,
        }
    simple = dt.simpleString()
    if simple.startswith("decimal"):
        return simple  # spark decimal(P,S) == iceberg decimal(P,S)
    if simple == "timestamp_ntz":
        return "timestamp"  # spec: timestamp WITHOUT zone
    if simple.startswith("timestamp"):
        return "timestamptz"
    if simple == "variant":
        # iceberg v3 §Variant exists, but this container's pyarrow
        # cannot even OPEN parquet footers carrying the VARIANT
        # LogicalType (staging/stats/bounds all read footers) —
        # refuse by name rather than committing metadata that calls
        # the column a string.  delta_lite WRITES variant fine (its
        # staging is Spark-side).
        raise IcebergLiteError(
            "variant columns are not supported by write_iceberg in "
            "this environment (pyarrow lacks the parquet VARIANT "
            "LogicalType the footer machinery needs); use delta_lite "
            "for variant writes or cast to a string/struct column"
        )
    if simple.startswith("char(") or simple.startswith("varchar("):
        return "string"
    try:
        return _SPARK_TO_ICEBERG_TYPE[simple]
    except KeyError:
        raise IcebergLiteError(
            f"spark type {simple!r} has no iceberg mapping; refusing "
            "rather than committing metadata that misdescribes the "
            "column"
        ) from None


def _ice_type_sig(t):
    """Structural signature of an iceberg type IGNORING field ids — the
    evolution comparison: an append whose nested shape matches the
    table keeps the table's ids; a shape change refuses."""
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return (
                "struct",
                tuple(
                    (f["name"], _ice_type_sig(f["type"]),
                     bool(f.get("required")))
                    for f in t.get("fields", [])
                ),
            )
        if kind == "list":
            return (
                "list", _ice_type_sig(t.get("element")),
                bool(t.get("element-required")),
            )
        if kind == "map":
            return (
                "map", _ice_type_sig(t.get("key")),
                _ice_type_sig(t.get("value")),
                bool(t.get("value-required")),
            )
    return t


def _walk_type_ids(t):
    """Yield every NESTED field id inside an iceberg type object."""
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            for f in t.get("fields", []):
                yield int(f["id"])
                yield from _walk_type_ids(f["type"])
        elif kind == "list":
            yield int(t["element-id"])
            yield from _walk_type_ids(t.get("element"))
        elif kind == "map":
            yield int(t["key-id"])
            yield int(t["value-id"])
            yield from _walk_type_ids(t.get("key"))
            yield from _walk_type_ids(t.get("value"))


def _ice_schema_fields(df) -> list[dict]:
    """Iceberg schema fields (with 1-based FIELD IDS by column position;
    nested struct/list/map fields mint ids continuing past the
    top-level block) for the table metadata — equality-delete manifests
    name their equated columns by these ids (spec §Equality Delete
    Files), so every committed metadata must carry them.  Accepts a
    DataFrame or a StructType."""
    schema = df if not hasattr(df, "schema") else df.schema
    counter = {"v": len(schema.fields)}

    def mint() -> int:
        counter["v"] += 1
        return counter["v"]

    fields = []
    for i, f in enumerate(schema.fields):
        fields.append(
            {
                "id": i + 1,
                "name": f.name,
                "required": False,
                "type": _ice_type_of(f.dataType, mint),
            }
        )
    return fields


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return int(pq.ParquetFile(path).metadata.num_rows)


def _stage_iceberg_data(
    df: DataFrame, table_path: str, part_fields: list
):
    """Distributed parquet write, then move part files under
    ``data/<field>=<val>/``.  ``part_fields`` are PartitionFields: each
    becomes a throwaway ``__ice_p_<name>`` column holding the
    TRANSFORMED partition value (identity duplicates the source) for
    Spark's partitionBy, so the source columns stay inside the files
    (Iceberg stores source columns in the data, unlike Hive/Delta) and
    a ``days(ts)``/``bucket(N,key)`` table stages one file group per
    partition value exactly like the real writer.  Returns
    [(rel_path, partition_values, record_count, file_size, col_minmax)]
    where partition_values is keyed by spec FIELD name and col_minmax is
    the parquet footer's {"minValues", "maxValues"} per primitive
    column — the raw material for the manifest's lower/upper bounds,
    Iceberg's manifest-level value pruning."""
    import glob as _glob
    import shutil
    import tempfile
    import uuid
    from urllib.parse import unquote

    part_fields = parse_partition_by(part_fields)
    staging_root = tempfile.mkdtemp(prefix="_ice_stage_", dir=table_path)
    try:
        out = os.path.join(staging_root, "out")
        writer = df
        if part_fields:
            dtypes = dict(df.dtypes)
            for f in part_fields:
                writer = writer.withColumn(
                    f"__ice_p_{f.name}",
                    transform_expr(
                        f.transform, f.source, dtypes.get(f.source, "string")
                    ),
                )
            writer = writer.write.mode("overwrite").partitionBy(
                *[f"__ice_p_{f.name}" for f in part_fields]
            )
        else:
            writer = writer.write.mode("overwrite")
        writer.parquet(out)
        staged = []
        for src in sorted(
            _glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
        ):
            if _footer_rows(src) == 0:
                # empty input partitions produce zero-row part files;
                # committing them would bloat manifests (and every
                # later scan plans them) for no data
                continue
            rel_dir = os.path.relpath(os.path.dirname(src), out)
            segs = [] if rel_dir == "." else rel_dir.split(os.sep)
            pvals = {}
            parts = []
            for seg in segs:
                col, _, raw = seg.partition("=")
                col = col.removeprefix("__ice_p_")
                value = (
                    None
                    if raw == "__HIVE_DEFAULT_PARTITION__"
                    else unquote(raw)
                )
                pvals[col] = value
                parts.append(f"{col}={raw}")
            rel = "/".join(
                ["data", *parts, f"part-{uuid.uuid4().hex}.parquet"]
            )
            dest = os.path.join(table_path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            size = os.path.getsize(src)
            shutil.move(src, dest)
            from .delta_lite import _footer_stats

            stats = _footer_stats(dest) or {}
            staged.append(
                (rel, pvals, _footer_rows(dest), size,
                 {"min": stats.get("minValues") or {},
                  "max": stats.get("maxValues") or {}})
            )
        return staged
    finally:
        import shutil as _sh

        _sh.rmtree(staging_root, ignore_errors=True)


def _write_manifest(
    table_path: str, rel: str, part_cols: list, entries: list
) -> None:
    schema = _manifest_schema(part_cols)
    avro_lite.write_avro(
        os.path.join(table_path, rel),
        [n for n, _ in schema],
        [t for _, t in schema],
        entries,
        record_name="manifest_entry",
    )


def _try_commit_metadata(
    table_path: str, version: int, meta: dict, prior: dict | None
) -> bool:
    meta_dir = os.path.join(table_path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    # spec §Table Metadata history lists (round 11), maintained
    # CENTRALLY so every verb gets them: `metadata-log` records the
    # superseded metadata file, `snapshot-log` records every change of
    # current-snapshot-id — the list TIMESTAMP AS OF must resolve
    # against (after a rollback, "as of now" is the rolled-back-TO
    # snapshot; creation timestamps alone cannot express that).
    # ``prior`` is the metadata of v{version - 1} the caller built on
    # (None on create), so the commit reads no metadata file.
    import time as _lg_time

    meta, known = dict(meta), prior or {}
    now_ms = int(_lg_time.time() * 1000)
    if prior is not None:
        keep = int((meta.get("properties") or {}).get(
            "write.metadata.previous-versions-max", 100) or 100)
        meta["metadata-log"] = [
            *(prior.get("metadata-log") or []),
            {
                "timestamp-ms": int(prior.get("last-updated-ms") or now_ms),
                "metadata-file": f"{table_path}/metadata/"
                f"v{version - 1}.metadata.json",
            },
        ][-keep:]
    slog = list(known.get("snapshot-log") or [])
    current = meta.get("current-snapshot-id")
    if current is not None and current != known.get("current-snapshot-id"):
        slog.append({"timestamp-ms": now_ms, "snapshot-id": current})
    if prior is not None or slog:
        meta["snapshot-log"] = slog
    meta["last-updated-ms"] = now_ms
    target = os.path.join(meta_dir, f"v{version}.metadata.json")
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    # best-effort hint; readers trust the highest vN scan, not this
    with open(
        os.path.join(meta_dir, "version-hint.text"), "w", encoding="utf-8"
    ) as fh:
        fh.write(str(version))
    return True


def _commit_metadata(
    table_path: str, version: int, meta: dict, prior: dict | None,
    staged=(),
) -> int:
    """The one Iceberg commit exit: claim ``metadata/v{version}`` for
    ``meta`` built on ``prior``, the loaded metadata of the version
    before (None on create; :func:`_try_commit_metadata`).  Losing the
    race deletes the ``staged`` files (table-relative manifests and
    manifest list this commit wrote; no metadata will ever reference
    them) and raises :class:`ConcurrentIcebergWrite`.  Returns
    ``version``."""
    if not _try_commit_metadata(table_path, version, meta, prior):
        discard_files(table_path, staged)
        raise ConcurrentIcebergWrite(
            f"metadata v{version} of {table_path} was committed "
            "concurrently; re-run against the new metadata"
        )
    return version


def _written_metadata(snap_id: int, manifests: list, ml_rel: str) -> list:
    """Table-relative metadata files a snapshot commit wrote: the
    manifests ``snap_id`` added (``added_snapshot_id``; carried ones
    belong to earlier snapshots) and its manifest list."""
    return [
        f"metadata/{m[0].rsplit('/', 1)[-1]}"
        for m in manifests
        if m[5] == snap_id
    ] + [ml_rel]


def _commit_or_discard(
    table_path: str, part_cols: list, data_entries: list,
    delete_entries: list, **commit_kw,
) -> int:
    """:func:`_commit_snapshot` of files staged for THIS commit: losing
    the race discards every staged data, delete and DV file before the
    conflict propagates — no later snapshot can reference them, and a
    re-executed attempt stages its own."""
    try:
        return _commit_snapshot(
            table_path, part_cols, data_entries=data_entries,
            delete_entries=delete_entries, **commit_kw,
        )
    except ConcurrentIcebergWrite:
        discard_files(
            table_path, [e[0] for e in (*delete_entries, *data_entries)]
        )
        raise


def _stage_delete_files(
    table_path: str, rows: DataFrame, n_files: int = 1,
    equality_ids: list | None = None,
) -> list:
    """Stage the delete files of one commit; returns their
    :func:`_commit_snapshot` delete entries (global scope: an empty
    partition tuple).

    POSITION deletes (``equality_ids`` None): ``rows`` carries each
    matched row's data file as written (``orig``, see
    :func:`_attach_orig`) and its ``__ice_pos``; the entries are sorted
    by ``file_path`` then ``pos`` (spec) and range-split into
    ``n_files`` parts — callers pass the TARGET's file count, not the
    session's shuffle width: every later MOR read opens each delete
    file, so 32 near-empty files from a default shuffle is pure read
    amplification.  EQUALITY deletes: ``rows`` are the key tuples,
    written as they come.  Spark writes into a temp directory; its
    non-empty parts move under ``data/`` with fresh uuid names."""
    import glob as _glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    if equality_ids is None:
        kind, content = "delete", 1
        rows = rows.select(
            F.col("orig").alias("file_path"),
            F.col("__ice_pos").alias("pos"),
        ).repartitionByRange(
            max(1, n_files), "file_path", "pos"
        ).sortWithinPartitions("file_path", "pos")
    else:
        kind, content = "eqdelete", 2
    stage = tempfile.mkdtemp(prefix="_ice_del_", dir=table_path)
    entries = []
    try:
        out = os.path.join(stage, "out")
        rows.write.mode("overwrite").parquet(out)
        for src_file in sorted(_glob.glob(os.path.join(out, "*.parquet"))):
            count = _footer_rows(src_file)
            if count == 0:
                continue  # Spark writes empty parts for empty splits
            rel = f"data/{kind}-{_uuid.uuid4().hex}.parquet"
            dest = os.path.join(table_path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            size = os.path.getsize(src_file)
            shutil.move(src_file, dest)
            entries.append((rel, {}, count, size, content, equality_ids))
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return entries


def _stage_row_deletes(
    spark: SparkSession, table_path: str, matched: DataFrame, fv: int,
    files: list, deletes: list, orig_files: list | None = None,
) -> tuple[list, frozenset, int]:
    """Tombstone the ``matched`` rows (``__ice_file`` / ``__ice_pos``)
    the way format version ``fv`` requires: v3 as DELETION VECTORS (one
    puffin sidecar per touched file, superseding that file's prior DV
    and folding any v2 position deletes in), v2 as position-delete files
    naming each row's data file as written (``orig``, looked up in
    ``orig_files``, default ``files``).  Returns ``(delete_entries,
    drop_dv_refs, rows)``."""
    if fv >= 3:
        return _stage_iceberg_dvs(
            spark, table_path, matched.select("__ice_file", "__ice_pos"),
            files, deletes,
        )
    matched = _attach_orig(spark, matched, orig_files or files)
    entries = _stage_delete_files(table_path, matched, len(files))
    return entries, frozenset(), sum(e[2] for e in entries)


def is_iceberg_table(table_path: str) -> bool:
    meta_dir = os.path.join(table_path, "metadata")
    return os.path.isdir(meta_dir) and bool(_metadata_versions(meta_dir))


def write_iceberg(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    partition_by=None,
    max_retries: int = 3,
    evolve_partition_spec: bool = False,
    branch: str = "main",
    format_version: int | None = None,
) -> int:
    """CREATE (first call) or APPEND (subsequent calls) a snapshot.
    Returns the committed snapshot id.  ``partition_by`` entries may be
    plain column names (identity) or transform calls — ``days(ts)``,
    ``bucket(4, key)``, ``truncate(3, col)`` — the production Iceberg
    partitioning shapes.  An append whose partitioning differs from the
    table's refuses unless ``evolve_partition_spec=True``, which
    commits the new layout as a NEW spec id (spec §Partition
    Evolution — the ``ALTER TABLE ... REPLACE PARTITION FIELD`` shape):
    old manifests keep pruning under their original spec, new files
    land under the new one, no data is rewritten.  Appends against a
    concurrent commit re-read the log and retry — staged data files are
    content-addressed and referenced only by the winning commit, so a
    retry reuses them safely.

    ``format_version`` (CREATE only): 2 (default) or 3 — v3 tables
    maintain row lineage (``next-row-id`` / snapshot ``first-row-id``)
    and express row deletes as puffin DELETION VECTORS instead of
    position-delete parquet (spec v3; Iceberg 1.8+/Spark-4 writers
    default new tables toward it).

    ``branch``: append on a NAMED BRANCH instead of main — the
    write-audit-publish staging half (read the branch with
    ``read_iceberg(..., snapshot_id=branch)``, audit it, then
    :func:`fast_forward` main to publish).  Matches the reference's
    Iceberg upsert landing in a governed table the consumer only sees
    after validation (etl_consume_entity_match.py's DQ-before-publish
    ordering)."""
    os.makedirs(table_path, exist_ok=True)
    partition_by = parse_partition_by(partition_by)
    existing = is_iceberg_table(table_path)
    if existing:
        meta = _load_metadata(table_path)
        if format_version is not None and int(format_version) != max(
            2, int(meta.get("format-version", 2))
        ):
            raise IcebergLiteError(
                f"table is format-version {meta.get('format-version')}; "
                "appends cannot change it (use upgrade_iceberg_format)"
            )
        table_parts = _partition_spec_fields(meta)
        same = [(f.transform, f.source) for f in partition_by] == [
            (f.transform, f.source) for f in table_parts
        ]
        if partition_by and not same and not evolve_partition_spec:
            raise IcebergLiteError(
                f"append partitioning {partition_by} != table "
                f"{table_parts} (pass evolve_partition_spec=True to "
                "commit a new partition spec)"
            )
        if not partition_by or same:
            partition_by = table_parts
        # spec v3 §Default values, WRITE side (round 10 — closes a
        # named refusal): an append that omits a column carrying
        # ``write-default`` materializes the default INTO the data
        # files (what spec-conforming writers do), so the files are
        # self-contained instead of leaning on the read-side
        # initial-default projection
        cur_schema = _current_schema_of(meta)
        have_cols = set(df.columns)
        from pyspark.sql import functions as F

        for fd in cur_schema.get("fields", []):
            wd = fd.get("write-default")
            if wd is None or fd["name"] in have_cols:
                continue
            # nested fields added AFTER this column's own default may
            # carry their own write-defaults the stored (id-keyed)
            # value predates — each field's default resolves
            # independently, so merge them in before building the
            # literal (otherwise the staged file would physically
            # carry NULL and the read path, seeing the path present,
            # would never apply the default)
            lit = _default_literal(
                fd.get("type"),
                _merge_nested_write_defaults(fd.get("type"), wd),
            )
            if lit is not None:
                df = df.withColumn(fd["name"], lit)
        # NESTED write-defaults (round 11): an append whose struct
        # column omits a defaulted nested field materializes it into
        # the staged files (same conformance as the top-level case)

        def _df_type_at(schema, parts):
            """The Spark type at a dotted path, walking STRUCTS only;
            None when any segment is absent or non-struct-nested."""
            from pyspark.sql.types import StructType as _ST

            cur = schema
            for seg in parts:
                if not isinstance(cur, _ST):
                    return None
                hit = next(
                    (f for f in cur.fields if f.name == seg), None
                )
                if hit is None:
                    return None
                cur = hit.dataType
            return cur

        def _nested_wd(fields, prefix):
            nonlocal df
            for fd in fields:
                t = fd.get("type")
                wd = fd.get("write-default")
                pathname = prefix + fd["name"]
                parts = pathname.split(".")
                if wd is not None and prefix:
                    from pyspark.sql.types import StructType as _ST

                    parent_t = _df_type_at(df.schema, parts[:-1])
                    leaf_t = _df_type_at(df.schema, parts)
                    if (
                        parts[0] in have_cols
                        and isinstance(parent_t, _ST)
                        and leaf_t is None
                    ):
                        lit = _default_literal(t, wd)
                        if lit is not None:
                            df = df.withColumn(
                                parts[0],
                                F.col(parts[0]).withField(
                                    pathname.partition(".")[2], lit
                                ),
                            )
                if isinstance(t, dict) and t.get("type") == "struct":
                    _nested_wd(t.get("fields", []), pathname + ".")

        _nested_wd(cur_schema.get("fields", []), "")
    # schema-mapping validation BEFORE staging: an unmappable type
    # (variant incl.) must refuse by name here, not blow up mid-stage
    # in the footer machinery with files already on disk
    _ice_schema_fields(df)
    staged = _stage_iceberg_data(df, table_path, partition_by)

    def attempt(n):
        # appends evolve the schema (id-preserving: new columns mint
        # the next field ids, widened columns promote in place — spec
        # §Schema Evolution); creates start at schema 0
        fields = (
            _evolve_schema_fields(_load_metadata(table_path), df)
            if existing
            else _ice_schema_fields(df)
        )
        # the staged files serve every attempt: discard only after the last
        commit = _commit_or_discard if n == max_retries else _commit_snapshot
        return commit(
            table_path, partition_by,
            data_entries=staged, delete_entries=[],
            schema_fields=fields,
            evolve_schema=existing,
            branch=branch,
            format_version=format_version,
        )

    return retry_on_conflict(attempt, ConcurrentIcebergWrite, max_retries)


def _dv_kv_list(raw):
    """bounds maps read back from Avro -> the writer's (key, value)
    list form (shared by the manifest-rewrite paths)."""
    out = []
    for item in raw or []:
        if isinstance(item, dict):
            out.append((int(item["key"]), item["value"]))
        else:
            out.append((int(item[0]), item[1]))
    return out or None


def _carried_entry(entry: dict, seq: int, part_cols: list, first_row_id):
    """A live manifest ``entry`` carried into a rewritten manifest: status
    EXISTING (carried, not added, by the new snapshot) with an EXPLICIT
    sequence number ``seq``, since the rewrite crosses manifests."""
    dfile = entry["data_file"]
    partition = dfile.get("partition") or {}
    return (
        0, entry.get("snapshot_id"), seq,
        (
            int(dfile.get("content") or 0),
            dfile["file_path"],
            str(dfile.get("file_format", "PARQUET")).upper(),
            tuple(partition.get(c) for c in part_cols),
            int(dfile.get("record_count") or 0),
            int(dfile.get("file_size_in_bytes") or 0),
            list(dfile.get("equality_ids") or []) or None,
            _dv_kv_list(dfile.get("lower_bounds")),
            _dv_kv_list(dfile.get("upper_bounds")),
            dfile.get("referenced_data_file"),
            dfile.get("content_offset"),
            dfile.get("content_size_in_bytes"),
            first_row_id,
            dfile.get("sort_order_id"),
        ),
    )


def _rewrite_delete_manifest_without(
    table_path: str, meta: dict, rebase, mf: dict, drop_dv_refs,
    snap_id: int, location: str,
):
    """Carry one prior DELETE manifest forward minus the deletion
    vectors superseded by this commit (``drop_dv_refs``: referenced
    data-file paths).  Returns ``"keep"`` when the manifest holds no
    superseded DV, ``None`` when nothing survives the filter, else the
    rewritten manifest's manifest-list tuple.  Surviving entries are
    EXISTING with EXPLICIT sequence numbers, the rewrite_manifests
    discipline."""
    mf_seq = int(mf.get("sequence_number") or 0)
    spec_id = int(mf.get("partition_spec_id") or 0)
    entries = _read_manifest_rows(rebase(mf["manifest_path"]))
    part_cols = [f.name for f in _partition_spec_fields(meta, spec_id)]

    def superseded(dfile) -> bool:
        return (
            str(dfile.get("file_format", "")).upper() == "PUFFIN"
            and dfile.get("referenced_data_file") in drop_dv_refs
        )

    if not any(
        int(e.get("status") or 0) != 2 and superseded(e["data_file"])
        for e in entries
    ):
        return "keep"
    rows = []
    for entry in entries:
        if int(entry.get("status") or 0) == 2:
            continue
        dfile = entry["data_file"]
        if superseded(dfile):
            continue
        seq = entry.get("sequence_number")
        rows.append(_carried_entry(
            entry, mf_seq if seq is None else int(seq), part_cols,
            dfile.get("first_row_id"),
        ))
    if not rows:
        return None
    man_rel = f"metadata/manifest-delete-{snap_id}-{_uuid.uuid4().hex}.avro"
    _write_manifest(table_path, man_rel, part_cols, rows)
    return (
        f"{location}/{man_rel}",
        os.path.getsize(os.path.join(table_path, man_rel)),
        spec_id,
        1,
        mf_seq,
        snap_id,
        None,
    )


def _commit_snapshot(
    table_path: str,
    part_cols: list,
    data_entries: list,
    delete_entries: list,
    base: _Plan | None = None,
    replace: bool = False,
    schema_fields: list | None = None,
    evolve_schema: bool = False,
    branch: str = "main",
    format_version: int | None = None,
    drop_dv_refs: frozenset = frozenset(),
    sort_order_id: int | None = None,
) -> int:
    """Write manifests + manifest list + next metadata json; the O_EXCL
    metadata create is the commit point.  ``base``: the :func:`_plan`
    the writer read the table through, one per attempt.  The commit
    builds on its metadata and, when the parent is the planned snapshot,
    its manifest-list rows, and claims the version after the planned
    one: a commit that landed after the plan makes this one lose
    (:class:`ConcurrentIcebergWrite`).  Without ``base`` (appends,
    creates) the commit builds on the table's current metadata.

    ``data_entries``: ``(rel, pvals, count, size)``.  ``delete_entries``:
    ``(rel, pvals, count, size, file_content, equality_ids[, dv])``
    where ``file_content`` is 1 (position) or 2 (equality) per spec
    data_file.content and ``dv`` (v3 only) is ``{"referenced_data_file",
    "offset", "length"}`` marking a PUFFIN deletion-vector entry.
    ``replace=True`` drops every prior manifest from
    the new snapshot's manifest list (the ``rewrite_data_files``
    compaction commit: the new data files ARE the table).

    ``format_version`` applies on CREATE only (2 default, 3 opts into
    row lineage + DV deletes); an existing table keeps its version.  On
    v3 tables the commit maintains the ROW-ID chain (spec §Row Lineage):
    the snapshot records ``first-row-id`` = the table's ``next-row-id``,
    the new data manifest's list entry carries it for reader-side
    inheritance, and ``next-row-id`` advances by the added row count.
    ``drop_dv_refs``: data-file paths whose SUPERSEDED deletion vectors
    must not carry forward — prior delete manifests containing a DV for
    one of them are rewritten without it (entries keep explicit
    sequence numbers), keeping the spec's one-DV-per-file invariant.

    ``branch`` (spec §Snapshot References / the WAP workflow): a
    non-``main`` branch commits on top of THAT ref's head — the new
    snapshot's parent is the branch head (auto-created from the main
    head on first use, Iceberg's ``write.branch.create-missing``), the
    branch ref advances, and ``current-snapshot-id``/``main`` stay
    untouched, so readers of the table see nothing until
    :func:`fast_forward` publishes the branch."""
    part_fields = parse_partition_by(part_cols)
    meta_dir = os.path.join(table_path, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    if base is not None:
        current, meta = base.version, base.meta
    elif _metadata_versions(meta_dir):
        current, meta = _load_versioned(table_path)
    else:
        current, meta = 0, None
    if branch != "main" and meta is None:
        raise IcebergLiteError(
            f"cannot commit to branch {branch!r} on a table that does "
            "not exist yet — create it on main first"
        )
    location = (meta or {}).get("location") or table_path.rstrip("/")
    if meta is not None:
        # appends never change the table's format version (a v1 table
        # was already promoted to 2 by this writer's first commit)
        fv = max(2, int(meta.get("format-version", 2)))
    else:
        fv = int(format_version or 2)
        if fv not in (2, 3):
            raise IcebergLiteError(
                f"format_version must be 2 or 3, got {format_version}"
            )
    if fv >= 3:
        # spec: v3 snapshots must not add position-delete FILES — row
        # deletes arrive as puffin deletion vectors (or equality files)
        bad = [
            e for e in delete_entries
            if int(e[4]) == 1 and (len(e) < 7 or not e[6])
        ]
        if bad:
            raise IcebergLiteError(
                "format-version 3 forbids adding position-delete files; "
                "stage deletion vectors instead"
            )
    snap_id = current + 1
    seq = snap_id
    # the commit's PARENT: the target branch's head (a missing branch
    # ref starts from the main head — create-missing semantics)
    parent_id = None
    if meta is not None:
        ref = (meta.get("refs") or {}).get(branch)
        parent_id = (
            int(ref["snapshot-id"])
            if ref and ref.get("snapshot-id") is not None
            else meta.get("current-snapshot-id")
        )
    prior_manifests = []
    if meta is not None and not replace:
        snaps = meta.get("snapshots") or []
        cur = [
            s for s in snaps
            if s.get("snapshot-id") == parent_id
        ]
        if cur:
            rebase = _rebaser(meta, table_path)
            for mf in (
                base.manifests
                if base is not None and base.snapshot_id == parent_id
                else _read_manifest_rows(rebase(cur[0]["manifest-list"]))
            ):
                mf_content = int(mf.get("content") or 0)
                mf_seq = int(mf.get("sequence_number") or 0)
                spec_id = int(mf.get("partition_spec_id") or 0)
                carried = (
                    mf["manifest_path"],
                    int(mf["manifest_length"]),
                    spec_id,
                    mf_content,
                    mf_seq,
                    int(mf.get("added_snapshot_id") or 0),
                    mf.get("first_row_id"),
                )
                if mf_content == 1 and drop_dv_refs:
                    # rewrite delete manifests whose DV entries are
                    # superseded by this commit's new DVs, keeping the
                    # spec's one-DV-per-data-file invariant; survivors
                    # carry EXPLICIT sequence numbers.  Returns "keep"
                    # (untouched), None (nothing survives), or the
                    # rewritten manifest's list tuple.
                    rewritten = _rewrite_delete_manifest_without(
                        table_path, meta, rebase, mf, drop_dv_refs,
                        snap_id, location,
                    )
                    if rewritten == "keep":
                        prior_manifests.append(carried)
                    elif rewritten is not None:
                        prior_manifests.append(rewritten)
                    continue
                prior_manifests.append(carried)
    # name -> (field id, iceberg primitive type) for bounds encoding:
    # the table's existing schema wins; a fresh table uses the commit's
    bounds_src = (
        _current_schema_of(meta).get("fields")
        if meta is not None and meta.get("schemas") else None
    ) or schema_fields
    bounds_fields = {
        f["name"]: (int(f["id"]), f["type"])
        for f in (bounds_src or [])
        if isinstance(f.get("type"), str)
    }
    # source name -> schema field id for the partition-spec entries
    _src_ids = {f["name"]: int(f["id"]) for f in (bounds_src or [])}
    # Partition-spec EVOLUTION (spec §Partition Evolution): reuse the
    # existing spec whose (transform, source) signature matches this
    # commit's partitioning, else append a NEW spec id; prior manifests
    # keep their own spec ids so their files prune under the spec they
    # were written with.  Field ids never collide across specs.
    all_part_specs = [dict(s) for s in (meta or {}).get("partition-specs") or []]
    _names_all = {i: n for n, i in _src_ids.items()}
    if meta is not None:
        try:
            _names_all.update(_field_names_by_id(meta))
        except IcebergLiteError:
            pass

    def _spec_sig(fields):
        return [
            (
                parse_transform(f.get("transform") or "identity"),
                _names_all.get(int(f.get("source-id") or -1)) or f.get("name"),
            )
            for f in fields
        ]

    commit_sig = [(parse_transform(f.transform), f.source) for f in part_fields]
    commit_spec_id = None
    for s in all_part_specs:
        if _spec_sig(s.get("fields", [])) == commit_sig:
            commit_spec_id = int(s.get("spec-id") or 0)
            break
    if commit_spec_id is None:
        commit_spec_id = (
            max((int(s.get("spec-id") or 0) for s in all_part_specs),
                default=-1) + 1
        )
        next_field_id = (
            max(
                (
                    int(f.get("field-id") or 999)
                    for s in all_part_specs
                    for f in s.get("fields", [])
                ),
                default=999,
            ) + 1
        )
        all_part_specs.append(
            {
                "spec-id": commit_spec_id,
                "fields": [
                    {
                        "name": f.name,
                        "transform": f.transform,
                        "source-id": _src_ids.get(f.source, i + 1),
                        "field-id": next_field_id + i,
                    }
                    for i, f in enumerate(part_fields)
                ],
            }
        )
    # v3 ROW-ID chain: this commit's data files own the id block
    # [next-row-id, next-row-id + added rows)
    first_row_id = int((meta or {}).get("next-row-id") or 0)
    assigned_rows = (
        sum(int(e[2]) for e in data_entries) if fv >= 3 else 0
    )
    new_manifests = list(prior_manifests)
    for manifest_content, entries, tag in (
        (0, data_entries, "data"),
        (1, delete_entries, "delete"),
    ):
        if not entries:
            continue
        # uuid in the name: two racing writers both target v{snap_id};
        # snap_id-only names would let the O_EXCL LOSER overwrite the
        # winner's already-referenced manifest after the winner committed
        man_rel = (
            f"metadata/manifest-{tag}-{snap_id}-{_uuid.uuid4().hex}.avro"
        )
        rows = []
        for entry in entries:
            minmax = None
            dv = None
            if manifest_content == 0:
                rel, pvals, count, size, *rest = entry
                file_content, eq_ids = 0, None
                if rest:
                    minmax = rest[0]
            else:
                rel, pvals, count, size, file_content, eq_ids, *rest = entry
                if rest:
                    dv = rest[0]
            lower = upper = None
            if minmax and bounds_fields:
                lower, upper = [], []
                for name, (fid, ice_type) in bounds_fields.items():
                    lo = _single_value_encode(
                        (minmax.get("min") or {}).get(name), ice_type
                    )
                    hi = _single_value_encode(
                        (minmax.get("max") or {}).get(name), ice_type
                    )
                    if lo is not None and hi is not None:
                        lower.append((fid, lo))
                        upper.append((fid, hi))
                if not lower:
                    lower = upper = None
            rows.append(
                (
                    1,  # status ADDED
                    snap_id,
                    None,  # sequence inherits from the manifest list
                    (
                        file_content,
                        # add_files imports reference EXTERNAL files by
                        # absolute path (they stay in place); staged
                        # writes are table-relative
                        rel
                        if rel.startswith(("/", "file:"))
                        else f"{location}/{rel}",
                        "PUFFIN" if dv else "PARQUET",
                        tuple(pvals.get(f.name) for f in part_fields),
                        int(count),
                        int(size),
                        list(eq_ids) if eq_ids else None,
                        lower,
                        upper,
                        dv["referenced_data_file"] if dv else None,
                        int(dv["offset"]) if dv else None,
                        int(dv["length"]) if dv else None,
                        # first_row_id stays null: readers assign by
                        # inheritance from the manifest list (spec
                        # preference — rewrites then materialize)
                        None,
                        # sort_order_id (spec 140): only data files of
                        # a sorted rewrite carry it
                        (
                            int(sort_order_id)
                            if manifest_content == 0
                            and sort_order_id is not None
                            else None
                        ),
                    ),
                )
            )
        _write_manifest(
            table_path, man_rel, [f.name for f in part_fields], rows
        )
        new_manifests.append(
            (
                f"{location}/{man_rel}",
                os.path.getsize(os.path.join(table_path, man_rel)),
                commit_spec_id,
                manifest_content,
                seq,
                snap_id,
                # v3: the new DATA manifest anchors this commit's row-id
                # block; delete manifests never carry one
                (first_row_id if fv >= 3 and manifest_content == 0
                 else None),
            )
        )
    ml_rel = f"metadata/snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    avro_lite.write_avro(
        os.path.join(table_path, ml_rel),
        [n for n, _ in _MANIFEST_LIST_FIELDS],
        [t for _, t in _MANIFEST_LIST_FIELDS],
        new_manifests,
        record_name="manifest_file",
    )
    import time as _time

    if replace:
        operation = "replace"
    elif delete_entries:
        operation = "overwrite"
    else:
        operation = "append"
    snapshots = list((meta or {}).get("snapshots") or [])
    # spec §Snapshots recommended metrics (round 11): the added-*
    # counts come free from this commit's staged entries; engines and
    # ops UIs ($snapshots) read them for monitoring and CDC sizing
    summary = {"operation": operation}
    if data_entries:
        summary["added-data-files"] = str(len(data_entries))
        summary["added-records"] = str(
            sum(int(e[2]) for e in data_entries)
        )
        summary["added-files-size"] = str(
            sum(int(e[3]) for e in data_entries)
        )
    if delete_entries:
        summary["added-delete-files"] = str(len(delete_entries))
        summary["added-position-deletes"] = str(
            sum(
                int(e[2])
                for e in delete_entries
                if int(e[4]) == 1
            )
        )
    snap_rec = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": int(_time.time() * 1000),
        "manifest-list": f"{location}/{ml_rel}",
        "summary": summary,
    }
    if fv >= 3:
        snap_rec["first-row-id"] = first_row_id
    if parent_id is not None:
        # the ancestry link fast_forward walks to prove "publish" is a
        # pure pointer move (spec: snapshot.parent-snapshot-id)
        snap_rec["parent-snapshot-id"] = int(parent_id)
    snapshots.append(snap_rec)
    # the current schema (with field ids) carries forward unless this
    # commit supplies one; equality-delete manifests resolve through it
    schemas = list((meta or {}).get("schemas") or [])
    current_schema_id = (meta or {}).get("current-schema-id", 0)
    if schema_fields is not None and not schemas:
        schemas = [
            {"schema-id": 0, "type": "struct", "fields": schema_fields}
        ]
        current_schema_id = 0
    elif evolve_schema and schema_fields is not None and schemas:
        # id-preserving evolution (write_iceberg computed the fields
        # through _evolve_schema_fields): commit a NEW schema version
        # only when the field list actually changed
        cur = None
        for s in schemas:
            if s.get("schema-id") == current_schema_id:
                cur = s
        sig = lambda fs: [  # noqa: E731
            (int(f["id"]), f["name"], f["type"]) for f in fs
        ]
        if cur is None or sig(cur.get("fields", [])) != sig(schema_fields):
            current_schema_id = (
                max(int(s.get("schema-id") or 0) for s in schemas) + 1
            )
            schemas.append(
                {
                    "schema-id": current_schema_id,
                    "type": "struct",
                    "fields": schema_fields,
                }
            )
    if schemas:
        # spec: a snapshot records the schema current when it was
        # committed — per-file schema resolution after RENAME/DROP
        # COLUMN walks file.sequence_number -> snapshot -> schema-id
        snap_rec["schema-id"] = current_schema_id
    new_meta = {
        "format-version": fv,
        "table-uuid": (meta or {}).get("table-uuid")
        or "00000000-0000-0000-0000-00000000c0de",
        "location": location,
        "last-sequence-number": seq,
        # a branch commit leaves the main line where it was — readers
        # of the table proper must not see staged-but-unpublished data
        "current-snapshot-id": (
            snap_id
            if branch == "main"
            else (meta or {}).get("current-snapshot-id")
        ),
        "snapshots": snapshots,
        "partition-specs": all_part_specs
        or [{"spec-id": 0, "fields": []}],
        "default-spec-id": commit_spec_id,
    }
    # spec §Table Metadata: properties (and the metadata sections this
    # writer does not manage) persist across snapshot commits — a
    # data commit must never clear `owner`, stored ANALYZE stats, or
    # another engine's sort-orders/statistics entries (round-11 fix:
    # they were silently dropped)
    for carry in (
        "properties",
        "sort-orders",
        "default-sort-order-id",
        "statistics",
        "partition-statistics",
    ):
        if (meta or {}).get(carry) is not None:
            new_meta[carry] = meta[carry]
    if fv >= 3:
        new_meta["next-row-id"] = first_row_id + assigned_rows
    if schemas:
        new_meta["schemas"] = schemas
        new_meta["current-schema-id"] = current_schema_id
        new_meta["last-column-id"] = max(
            int((meta or {}).get("last-column-id", 0) or 0),
            max(
                (
                    int(f["id"])
                    for s in schemas
                    for f in s.get("fields", [])
                ),
                default=0,
            ),
        )
    # refs carry forward; the TARGET branch follows the new head (spec
    # §Snapshot References — writers advance their branch every commit)
    refs = dict((meta or {}).get("refs") or {})
    refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
    new_meta["refs"] = refs
    return _commit_metadata(
        table_path, snap_id, new_meta, meta,
        staged=_written_metadata(snap_id, new_manifests, ml_rel),
    )


def add_files(
    spark: SparkSession,
    table_path: str,
    source_dir: str,
    max_retries: int = 3,
) -> dict:
    """Iceberg's ``add_files`` procedure: import a Hive-layout parquet
    directory into an EXISTING table as one append snapshot — the
    files are referenced IN PLACE by absolute path (manifest
    ``file_path`` need not live under the table location), zero bytes
    copied, O(files) metadata.  This is the production migration lever:
    a 100 TB Hive table becomes Iceberg-queryable in one commit.

    Partition values come from the ``col=val`` dirs and must cover the
    table's CURRENT spec fields; only identity transforms are
    supported (a ``days(ts)``/``bucket`` spec cannot be derived from
    Hive dir names — Iceberg's own procedure has the same shape).
    Footer row counts and min/max bounds ride into the manifest, so
    value-bounds pruning works from the first read.
    ``expire_snapshots``/``remove_orphan_files`` never delete imported
    files: the table references, but does not own, bytes outside its
    root.  Returns {"snapshot_id", "files"}."""
    from urllib.parse import unquote as _unquote

    if not is_iceberg_table(table_path):
        raise IcebergLiteError(
            f"add_files needs an existing table: {table_path} "
            "(create it with write_iceberg first)"
        )
    meta = _load_metadata(table_path)
    part_fields = _partition_spec_fields(meta)
    non_identity = [
        f
        for f in part_fields
        if parse_transform(f.transform)[0] != "identity"
    ]
    if non_identity:
        raise IcebergLiteError(
            "add_files supports identity partition specs only; table "
            f"has {[(f.transform, f.source) for f in non_identity]}"
        )
    want = sorted(f.name for f in part_fields)
    entries = []
    for dirpath, dirnames, filenames in sorted(os.walk(source_dir)):
        for name in sorted(filenames):
            if not name.endswith(".parquet"):
                continue
            f = os.path.join(dirpath, name)
            rel_dir = os.path.relpath(dirpath, source_dir)
            segs = [] if rel_dir == "." else rel_dir.split(os.sep)
            pvals = {}
            for seg in segs:
                col, eq, raw = seg.partition("=")
                if eq:
                    pvals[col] = (
                        None
                        if raw == "__HIVE_DEFAULT_PARTITION__"
                        else _unquote(raw)
                    )
            if sorted(pvals) != want:
                raise IcebergLiteError(
                    f"file {f} has partition dirs {sorted(pvals)}; the "
                    f"table spec needs {want}"
                )
            from .delta_lite import _footer_stats

            stats = _footer_stats(f) or {}
            entries.append(
                (
                    os.path.abspath(f),
                    pvals,
                    _footer_rows(f),
                    os.path.getsize(f),
                    {"min": stats.get("minValues") or {},
                     "max": stats.get("maxValues") or {}},
                )
            )
    if not entries:
        raise IcebergLiteError(f"no parquet files under {source_dir}")
    # imported files are external — nothing staged to discard
    snap = retry_on_conflict(
        lambda _n: _commit_snapshot(
            table_path, part_fields,
            data_entries=entries, delete_entries=[],
        ),
        ConcurrentIcebergWrite, max_retries,
    )
    return {"snapshot_id": snap, "files": len(entries)}


def _stage_iceberg_dvs(
    spark: SparkSession, table_path: str, matched: DataFrame,
    files: list, deletes: list,
) -> tuple[list, frozenset, int]:
    """Stage v3 DELETION VECTORS for ``matched`` rows (``__ice_file``
    LOCAL planned path + ``__ice_pos``): per touched data file, the row
    positions union with (a) the file's existing DV and (b) any
    still-applicable v2 position-delete parquet rows for it — the spec
    rule that a DV must supersede ALL prior position deletes of its
    file, which is what lets readers ignore position-delete parquet
    once a DV exists.  One puffin sidecar per touched file is written
    EXECUTOR-side (``applyInPandas``; bitmaps never transit the
    driver).  Returns ``(delete_entries, drop_dv_refs, net_new_rows)``
    ready for :func:`_commit_snapshot`: entries carry the
    referenced_data_file/offset/length triple, ``drop_dv_refs`` names
    files whose old DV this commit supersedes, and ``net_new_rows``
    counts only rows not previously dead."""
    from pyspark.sql import functions as F

    by_orig = {f.orig_path: f for f in files}
    old_dv: dict = {}
    for d in deletes:
        if d.file_format != "PUFFIN":
            continue
        ref = by_orig.get(d.referenced_data_file)
        if ref is not None and d.sequence_number >= ref.sequence_number:
            old_dv[ref.path] = (d.path, d.content_offset, d.content_size)
    rows = matched.select("__ice_file", "__ice_pos").withColumn(
        "__ice_old", F.lit(False)
    )
    pos_parquet = [
        d for d in deletes if d.content == 1 and d.file_format == "PARQUET"
    ]
    if pos_parquet:
        # fold still-applicable v2 position deletes for TOUCHED files
        # into their new DVs (upgraded-table case)
        del_map = meta_df(
            spark,
            [(d.path, d.sequence_number) for d in pos_parquet],
            "dfile string, delete_seq long",
        )
        file_map = meta_df(
            spark,
            [(f.path, f.orig_path, f.sequence_number) for f in files],
            "__ice_file string, orig string, data_seq long",
        )
        touched = matched.select("__ice_file").distinct()
        old_rows = (
            spark.read.schema(_POS_DELETE_COLS)
            .parquet(*[d.path for d in pos_parquet])
            .select(
                F.col("file_path").alias("orig"),
                F.col("pos").alias("__ice_pos"),
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ).alias("dfile"),
            )
            .join(broadcast_meta(del_map), "dfile")
            .join(broadcast_meta(file_map), "orig")
            .where(F.col("delete_seq") >= F.col("data_seq"))
            .join(F.broadcast(touched), "__ice_file", "left_semi")
            .select("__ice_file", "__ice_pos")
            .withColumn("__ice_old", F.lit(True))
        )
        rows = rows.unionByName(old_rows)
    rows = _attach_orig(spark, rows, files)
    table = table_path

    def write_group(pdf):
        import os as _os
        import uuid as _u

        import pandas as pd

        from .puffin_lite import read_dv, write_puffin

        local = pdf["__ice_file"].iloc[0]
        orig = pdf["orig"].iloc[0]
        positions = set(int(p) for p in pdf["__ice_pos"])
        prev = set(
            int(p)
            for p, o in zip(pdf["__ice_pos"], pdf["__ice_old"])
            if o
        )
        old = old_dv.get(local)
        if old is not None:
            prior = set(read_dv(old[0], old[1], old[2]))
            prev |= prior
            positions |= prior
        rel = f"data/dv-{_u.uuid4().hex}.puffin"
        dest = _os.path.join(table, rel)
        _os.makedirs(_os.path.dirname(dest), exist_ok=True)
        d = write_puffin(
            dest,
            [{"referenced_data_file": orig,
              "positions": sorted(positions)}],
        )[0]
        return pd.DataFrame(
            {
                "rel": [rel],
                "orig": [orig],
                "offset": [d["offset"]],
                "length": [d["length"]],
                "cardinality": [d["cardinality"]],
                "net_new": [len(positions - prev)],
                "size": [_os.path.getsize(dest)],
                "had_old_dv": [old is not None],
            }
        )

    descs = (
        rows.groupBy("__ice_file")
        .applyInPandas(
            write_group,
            "rel string, orig string, offset long, length long, "
            "cardinality long, net_new long, size long, had_old_dv boolean",
        )
        .collect()
    )
    delete_entries = [
        (
            r["rel"], {}, int(r["cardinality"]), int(r["size"]), 1, None,
            {
                "referenced_data_file": r["orig"],
                "offset": int(r["offset"]),
                "length": int(r["length"]),
            },
        )
        for r in descs
    ]
    drop_refs = frozenset(r["orig"] for r in descs if r["had_old_dv"])
    net_new = sum(int(r["net_new"]) for r in descs)
    return delete_entries, drop_refs, net_new


def merge_iceberg(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    keys,
    max_retries: int = 3,
    delete_keys: DataFrame | None = None,
) -> dict:
    """MERGE-ON-READ upsert: ``MERGE INTO table USING source ON keys
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``,
    committed as (a) one or more POSITION-DELETE files naming every
    matched target row by (file_path, pos) — sorted, per spec — plus
    (b) the full source appended as new data files.  No target data
    file is rewritten: write amplification is O(|matches|), the reason
    MOR is the production upsert shape for wide tables.  The reader's
    sequence-number rule makes the deletes apply exactly to older
    files.  Returns {"snapshot_id", "deleted_rows", "delete_files",
    "appended_files", "retries"}.

    Conflict handling mirrors ``delta_lite.merge_delta``: losing the
    metadata O_EXCL race discards this attempt's delete files and
    re-executes the match against the fresh snapshot (re-execution is
    serialization-equivalent); ``max_retries`` bounds it.

    ``delete_keys`` (the SQL front-end's ``WHEN MATCHED THEN DELETE``
    lowering): target rows whose keys appear in this frame are
    tombstoned in the SAME snapshot with no replacement row.  Its key
    set must be disjoint from the source's."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    with merge_prologue(
        source, delete_keys, keys, IcebergLiteError
    ) as (source, delete_keys, key_sets, key_bounds):
        return retry_on_conflict(
            lambda attempt: _merge_once_iceberg(
                spark, source, table_path, keys, attempt, key_sets,
                key_bounds, delete_keys=delete_keys,
            ),
            ConcurrentIcebergWrite, max_retries,
        )


def _merge_once_iceberg(
    spark: SparkSession, source: DataFrame, table_path: str, keys: list,
    attempt: int, key_sets: tuple, key_bounds: tuple,
    delete_keys: DataFrame | None = None,
) -> dict:
    from pyspark.sql import functions as F

    plan = _plan(table_path)
    meta, files = plan.meta, plan.files
    part_cols = _partition_spec_fields(meta)
    # MANIFEST-BOUNDS SKIPPING for the touched-file search: a data file
    # whose partition value or [lower, upper] range on the first merge
    # key cannot contain any source key is never opened — the Iceberg
    # twin of delta_lite's footer-stats skipping (finding 42), decided
    # on the files this attempt planned.  With the table clustered on
    # the key, a narrow upsert scans a handful of files, not the table.
    # Pruned files cannot contain matches, so skipping them never
    # changes the delete set.
    search_files = files
    bounds = None
    if key_bounds[0] is not None:
        search_files = _in_bounds(meta, files, {keys[0]: key_bounds})
        if len(search_files) < len(files):
            bounds = {keys[0]: key_bounds}
    if not search_files:
        # nothing can match, so the MERGE degenerates to a pure append.
        # An empty table takes the source as it is.  When NO live
        # file's [lower, upper] can contain any tombstone key (the
        # insert-only upsert on a key-clustered table), the append
        # projects to the TABLE schema, same as the main path: a missing
        # column is a named error, an extra column never leaks into
        # data files.
        scan = {}
        if files:
            tbl_schema = _spark_schema_from_meta(meta)
            if tbl_schema is not None:
                source = source.select(*[f.name for f in tbl_schema.fields])
            scan = {"files_scanned": 0, "files_total": len(files)}
        data_entries = _stage_iceberg_data(source, table_path, part_cols)
        snap_id = _commit_or_discard(
            table_path, part_cols, data_entries, [], base=plan,
            schema_fields=_ice_schema_fields(source),
        )
        return {
            "snapshot_id": snap_id, "deleted_rows": 0, "delete_files": 0,
            "appended_files": len(data_entries), **scan,
            "retries": attempt,
        }
    src_keys, tomb_keys, hint = key_sets
    tomb_hint = hint(tomb_keys)
    files_scanned = len(search_files)
    # Match against LIVE rows of the plan's searched files — the full
    # reader (metadata schema, position/equality/DV deletes applied),
    # not raw parquet: matching already-dead rows re-tombstones them
    # and inflates deleted_rows (the same defect class ADVICE r9
    # flagged for UPDATE/DELETE).  The bounds stay a row-level residual
    # that cannot drop a matchable row, since every source key lies
    # inside [lo, hi].
    fv = max(2, int(meta.get("format-version", 2)))
    live = _read_plan(
        spark, _dc_replace(plan, files=search_files), bounds,
        _row_refs=True, row_lineage=fv >= 3,
    )
    schema_cols = [c for c in live.columns if c not in _ROW_REF_COLS]
    source = source.select(*schema_cols)
    target = live.select(
        *keys, "__ice_file", "__ice_pos",
        *(["_row_id"] if fv >= 3 else []),
    )
    matched_tomb = target.join(tomb_hint, keys, "left_semi")
    if fv >= 3:
        # v3: matched rows become DELETION VECTORS, never new
        # position-delete parquet (forbidden by the spec's v3 rules).
        # The MATCHED set feeds two consumers — DV staging and the
        # row-id carry map (re-executed inside data staging) — each of
        # which would otherwise replay the whole MOR read (deletes
        # applied).  Materialize it once: O(|matched|) narrow rows,
        # never the data payload.
        matched_tomb = matched_tomb.localCheckpoint(eager=True)
    delete_entries, drop_dv_refs, deleted_rows = _stage_row_deletes(
        spark, table_path, matched_tomb, fv, files, plan.deletes,
        search_files,
    )
    if fv >= 3:
        # spec §Row Lineage: an UPDATED row keeps its _row_id (nulls on
        # pure inserts resolve positionally, minting fresh ids);
        # _last_updated_sequence_number stays absent so it inherits the
        # new commit's sequence number.  Only SOURCE-matched rows carry:
        # matched_tomb also holds the delete clause's rows.
        source = carry_row_ids(
            source, matched_tomb, keys, "_row_id",
            within=None if delete_keys is None else src_keys,
        )
    data_entries = _stage_iceberg_data(source, table_path, part_cols)
    snap_id = _commit_or_discard(
        table_path, part_cols, data_entries, delete_entries, base=plan,
        # schema from the TABLE columns only — the v3 path's
        # materialized _row_id is a file-level lineage column, never
        # part of the table schema
        schema_fields=_ice_schema_fields(source.select(*schema_cols)),
        drop_dv_refs=drop_dv_refs,
    )
    return {
        "snapshot_id": snap_id,
        "deleted_rows": deleted_rows,
        "delete_files": len(delete_entries),
        "appended_files": len(data_entries),
        "files_scanned": files_scanned,
        "files_total": len(files),
        "retries": attempt,
    }


def upsert_iceberg_equality(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    keys,
    max_retries: int = 3,
) -> dict:
    """Streaming-upsert MERGE committing EQUALITY deletes (the Flink-CDC
    writer shape, spec §Equality Delete Files): one snapshot lands (a)
    an equality-delete file holding the source's distinct key tuples —
    manifest entry ``content=2`` with ``equality_ids`` resolved through
    the table schema's field ids — and (b) the full source as new data
    files.  Both carry the same sequence number, so under the reader's
    STRICT rule (delete seq > data seq) the delete erases every OLDER
    row with a matching key while this snapshot's own rows survive: an
    upsert with zero target scan — no touched-file search, no position
    computation — which is why CDC writers prefer equality deletes for
    high-frequency upserts.  The read side pays instead (one anti-join
    per delete file group) until :func:`rewrite_data_files` folds the
    deletes away.  Returns {"snapshot_id", "delete_files",
    "appended_files", "retries"}.

    Reference parity: the entity primary MERGE
    (``etl_consume_entity_match.py:449-455``) — this is its
    write-amplification-free variant.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    if not is_iceberg_table(table_path):
        snap_id = write_iceberg(spark, source, table_path)
        return {"snapshot_id": snap_id, "delete_files": 0,
                "appended_files": -1, "retries": 0}
    # the source is evaluated twice (distinct-key delete file + data
    # append) — materialize it once, same rationale as merge_iceberg
    source = source.localCheckpoint(eager=True)
    return retry_on_conflict(
        lambda attempt: _upsert_equality_once(
            spark, source, table_path, keys, attempt
        ),
        ConcurrentIcebergWrite, max_retries,
    )


def _upsert_equality_once(
    spark: SparkSession, source: DataFrame, table_path: str, keys: list,
    attempt: int,
) -> dict:
    plan = _plan(table_path)
    part_cols = _partition_spec_fields(plan.meta)
    names_by_id = _field_names_by_id(plan.meta)
    ids_by_name = {n: i for i, n in names_by_id.items()}
    missing = [k for k in keys if k not in ids_by_name]
    if missing:
        raise IcebergLiteError(
            f"upsert keys {missing} not in table schema "
            f"(known: {sorted(ids_by_name)})"
        )
    eq_ids = [ids_by_name[k] for k in keys]
    # (a) equality-delete file(s): the distinct source key tuples, written
    # BY SPARK (the key set can be arbitrarily large — never driver-side).
    # When the partition columns are part of the key, the delete files
    # are PARTITION-SCOPED (the partitioned Flink-CDC shape): each file
    # carries its partition tuple in the manifest entry, so readers only
    # anti-join it against that partition's data — and partition-level
    # maintenance (compaction of one partition) can drop exactly the
    # deletes that apply to it.
    distinct_keys = source.select(*keys).distinct()
    if part_cols and {f.source for f in part_cols} <= set(keys):
        staged = _stage_iceberg_data(distinct_keys, table_path, part_cols)
        delete_entries = [
            (rel, pvals, count, size, 2, eq_ids)
            for rel, pvals, count, size, _minmax in staged
        ]
    else:
        # global scope: an empty partition tuple (the key set is
        # table-wide unique, not partition-local)
        delete_entries = _stage_delete_files(
            table_path, distinct_keys, equality_ids=eq_ids
        )
    # (b) the source appends as new data files
    data_entries = _stage_iceberg_data(source, table_path, part_cols)
    snap_id = _commit_or_discard(
        table_path, part_cols, data_entries, delete_entries, base=plan,
        schema_fields=_ice_schema_fields(source),
    )
    return {
        "snapshot_id": snap_id,
        "delete_files": len(delete_entries),
        "appended_files": len(data_entries),
        "retries": attempt,
    }


def rewrite_data_files(
    spark: SparkSession, table_path: str, target_files: int | None = None,
    zorder_by=None, zorder_bits: int = 8,
) -> dict:
    """MOR maintenance: fold every outstanding position/equality delete
    back into the data files — Iceberg's ``rewrite_data_files`` compact
    action.  Under a MERGE-heavy workload (the reference's entity table,
    ``etl_consume_entity_match.py:449-455``) every upsert adds delete
    files and read amplification grows without bound; this reads the
    CURRENT resolved snapshot once (the reader's anti-joins apply the
    deletes), rewrites it as clean data files, and commits a REPLACE
    snapshot whose manifest list carries only the new files — delete
    files and superseded data files drop out of the live metadata tree
    (their bytes are reclaimed by :func:`expire_snapshots`).  The
    commit is ``dataChange``-free in spirit: the row set is identical,
    which the compaction gate asserts against the oracle.

    ``target_files`` additionally coalesces small files (the other half
    of real compaction).  ``zorder_by`` clusters the rewrite by the
    Morton key of the named columns (``operators/layout``) — with the
    manifests now carrying per-column bounds, a z-ordered rewrite makes
    ``bounds_filter`` pruning MULTI-dimensional (Iceberg's
    ``rewrite_data_files(strategy => 'sort', sort_order => zorder(...))``
    shape).  Returns {"snapshot_id", "files_before",
    "delete_files_before", "files_after", "rewritten"}.
    """
    plan = _plan(table_path)
    meta, files, deletes = plan.meta, plan.files, plan.deletes

    def _unmaterialized_defaults() -> bool:
        # v3 initial-defaults are read-side debt too (round 11): a file
        # physically lacking a defaulted path leans on the reader's
        # projection; the rewrite materializes the value (it reads
        # through the default-injecting path), which CONVERT TO DELTA
        # requires.  Footer checks are cached per immutable file.
        def walk(fields, prefix):
            for fd in fields:
                if fd.get("initial-default") is not None:
                    yield prefix + fd["name"]
                t = fd.get("type")
                if isinstance(t, dict) and t.get("type") == "struct":
                    yield from walk(
                        t.get("fields", []), prefix + fd["name"] + "."
                    )

        dpaths = list(walk(_current_schema_of(meta).get("fields", []), ""))
        if not dpaths:
            return False
        return any(
            p not in _footer_cols(f.path) for f in files for p in dpaths
        )

    if zorder_by:
        pass  # a layout request always rewrites
    elif (
        not deletes
        and (target_files is None or len(files) <= target_files)
        and not _unmaterialized_defaults()
        and not _default_sort_columns(meta)
    ):
        return {
            "snapshot_id": None,
            "files_before": len(files),
            "delete_files_before": 0,
            "files_after": len(files),
            "rewritten": False,
        }
    part_cols = _partition_spec_fields(meta)
    fv = max(2, int(meta.get("format-version", 2)))
    # v3 row lineage: compaction MOVES rows unmodified, so BOTH
    # lineage fields must ride into the rewritten files materialized
    # (spec §Row Lineage: a carried row keeps its _row_id AND its
    # _last_updated_sequence_number — bumping the latter to the
    # compaction commit would falsely mark every row as just-changed)
    df = _read_plan(spark, plan, row_lineage=fv >= 3)
    sort_cols = _default_sort_columns(meta)
    if zorder_by:
        from ..operators.layout import zorder_key  # noqa: PLC0415

        keyed, _bounds = zorder_key(df, list(zorder_by), zorder_bits)
        df = (
            keyed.repartitionByRange(target_files or len(files), "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif sort_cols:
        # the table's DEFAULT SORT ORDER (spec §Sort Orders): range-
        # partition + sort-within on the declared keys so the rewrite
        # delivers the clustering the order promises (bounds pruning)
        from pyspark.sql import functions as F

        exprs = [
            (F.col(c).asc_nulls_first() if nf else F.col(c).asc_nulls_last())
            if asc
            else (
                F.col(c).desc_nulls_first()
                if nf
                else F.col(c).desc_nulls_last()
            )
            for c, asc, nf in sort_cols
        ]
        df = df.repartitionByRange(
            target_files or max(len(files), 1), *[c for c, _, _ in sort_cols]
        ).sortWithinPartitions(*exprs)
    elif target_files:
        df = df.coalesce(target_files)
    data_entries = _stage_iceberg_data(df, table_path, part_cols)
    snap_id = _commit_or_discard(
        table_path, part_cols, data_entries, [], base=plan, replace=True,
        # spec field 140: files written under the declared default
        # order carry its id (zorder is not a declared order)
        sort_order_id=(
            int(meta.get("default-sort-order-id") or 0) or None
            if (sort_cols and not zorder_by)
            else None
        ),
    )
    return {
        "snapshot_id": snap_id,
        "files_before": len(files),
        "delete_files_before": len(deletes),
        "files_after": len(data_entries),
        "rewritten": True,
    }


def truncate_iceberg(table_path: str) -> dict:
    """``TRUNCATE TABLE`` — one REPLACE snapshot with an empty manifest
    list: every data and delete file drops out of the live tree, zero
    files opened at any table size (bytes reclaim via
    :func:`expire_snapshots`).  The truncated table reads as zero rows
    under the metadata schema; every prior snapshot stays
    travelable."""
    plan = _plan(table_path)
    snap_id = _commit_snapshot(
        table_path, _partition_spec_fields(plan.meta),
        data_entries=[], delete_entries=[], base=plan, replace=True,
    )
    return {
        "snapshot_id": snap_id,
        "files_removed": len(plan.files),
        "delete_files_removed": len(plan.deletes),
    }


def overwrite_iceberg(
    spark: SparkSession, df: DataFrame, table_path: str
) -> int:
    """``INSERT OVERWRITE TABLE`` — one REPLACE snapshot whose manifest
    list carries ONLY the new data files: every prior data and delete
    file drops out of the live metadata tree in a single commit (zero
    old files opened at any table size; their bytes are reclaimed by
    :func:`expire_snapshots`), exactly Iceberg's static-overwrite
    ``ReplaceSnapshot`` shape.  The incoming frame must carry the
    table's CURRENT column set (any order); schema changes go through
    ``alter_iceberg_schema`` / evolve-append, never silently through an
    overwrite.  Returns the new snapshot id."""
    plan = _plan(table_path)
    part_cols = _partition_spec_fields(plan.meta)
    tbl_schema = _spark_schema_from_meta(plan.meta)
    if tbl_schema is not None:
        names = [f.name for f in tbl_schema.fields]
        if sorted(df.columns) != sorted(names):
            raise IcebergLiteError(
                f"INSERT OVERWRITE schema mismatch: table has {names}, "
                f"frame has {list(df.columns)}; evolve the schema first"
            )
        df = df.select(*names)
    data_entries = _stage_iceberg_data(df, table_path, part_cols)
    return _commit_or_discard(
        table_path, part_cols, data_entries, [], base=plan, replace=True,
    )


def _mapped_ice_fields(schema) -> list[dict]:
    """Iceberg schema fields for a COLUMN-MAPPED delta schema: field id
    := ``delta.columnMapping.id`` at every struct level — stable across
    both logs, so repeated exports after Delta evolution keep resolving.
    List element / map key+value ids (which Delta does not assign) mint
    past the largest mapping id; name-mapping resolution never consults
    them."""
    from pyspark.sql.types import ArrayType, MapType
    from pyspark.sql.types import StructType as _ST

    def max_id(dt) -> int:
        if isinstance(dt, _ST):
            return max(
                [0]
                + [
                    max(
                        int((f.metadata or {}).get(
                            "delta.columnMapping.id", 0
                        )),
                        max_id(f.dataType),
                    )
                    for f in dt.fields
                ]
            )
        if isinstance(dt, ArrayType):
            return max_id(dt.elementType)
        if isinstance(dt, MapType):
            return max(max_id(dt.keyType), max_id(dt.valueType))
        return 0

    counter = {"v": max_id(schema)}

    def mint() -> int:
        counter["v"] += 1
        return counter["v"]

    def conv(dt):
        if isinstance(dt, _ST):
            out = []
            for f in dt.fields:
                fid = (f.metadata or {}).get("delta.columnMapping.id")
                out.append(
                    {
                        "id": int(fid) if fid is not None else mint(),
                        "name": f.name,
                        "required": False,
                        "type": conv(f.dataType),
                    }
                )
            return {"type": "struct", "fields": out}
        if isinstance(dt, ArrayType):
            return {
                "type": "list",
                "element-id": mint(),
                "element": conv(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, MapType):
            return {
                "type": "map",
                "key-id": mint(),
                "key": conv(dt.keyType),
                "value-id": mint(),
                "value": conv(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        return _ice_type_of(dt, mint)

    return conv(schema)["fields"]


def _nm_entries_of(schema) -> list[dict]:
    """spec §Name Mapping entries for a column-mapped delta schema —
    RECURSIVE: each struct field (at any depth) aliases its Delta
    physical name to the logical one under its mapping id; list/map
    levels pass through as the spec's ``element``/``key``/``value``
    named entries so struct fields inside collections resolve too."""
    from pyspark.sql.types import ArrayType, MapType
    from pyspark.sql.types import StructType as _ST

    def sub_of(dt):
        if isinstance(dt, _ST):
            return [entry_of(f) for f in dt.fields]
        if isinstance(dt, ArrayType):
            inner = sub_of(dt.elementType)
            if inner:
                return [{"names": ["element"], "fields": inner}]
            return None
        if isinstance(dt, MapType):
            inner = sub_of(dt.valueType)
            if inner:
                return [
                    {"names": ["key"]},
                    {"names": ["value"], "fields": inner},
                ]
            return None
        return None

    def entry_of(field) -> dict:
        md = field.metadata or {}
        phys = md.get("delta.columnMapping.physicalName", field.name)
        e = {
            "field-id": int(md["delta.columnMapping.id"]),
            "names": sorted({phys, field.name}),
        }
        inner = sub_of(field.dataType)
        if inner:
            e["fields"] = inner
        return e

    return [entry_of(f) for f in schema.fields]


def export_uniform(delta_path: str, iceberg_path: str) -> dict:
    """UniForm-shape export (Databricks Universal Format / Apache
    XTable's delta->iceberg direction): commit ICEBERG METADATA over a
    live delta_lite table's CURRENT data files — referenced by absolute
    path, zero bytes copied, O(files) driver metadata.  Iceberg readers
    then query the same parquet the Delta writers maintain; re-running
    after new Delta commits refreshes the mirror as a REPLACE snapshot
    (the Delta snapshot's files ARE the table, exactly UniForm's
    model).  Identity partition values ride the manifest tuple; Delta's
    Hive-layout files lack the partition column in-data, which the
    iceberg reader already handles for external files (spec: identity
    fields may read from partition metadata).

    Live DELTA DELETION VECTORS translate to ICEBERG v3 deletion
    vectors (round 10): the two specs deliberately share the DV
    interchange bytes (magic ``D1 D3 39 64`` + portable 64-bit roaring
    — Delta PROTOCOL.md §Deletion Vectors; Iceberg spec §Deletion
    Vectors), so each Delta DV decodes (CRC-verified) and re-wraps as
    a ``deletion-vector-v1`` blob in ONE puffin file under the mirror,
    and the export commits as format-version 3.  O(DV bytes) driver
    work — compressed bitmaps, metadata class, zero data-file reads.

    Refuses tables whose CURRENT state Iceberg metadata cannot
    describe faithfully: column mapping (physical parquet names differ
    from the logical schema) — the same constraint real UniForm
    documents.  Returns {"snapshot_id", "files", "dv_files",
    "delta_version"}."""
    from .delta_lite import snapshot as _delta_snapshot

    snap = _delta_snapshot(delta_path)
    mapped = str(
        snap.configuration.get("delta.columnMapping.mode", "none")
    ).lower() != "none"
    phys_by_logical: dict = {}
    if mapped:
        # round 10: column mapping exports through the spec's NAME
        # MAPPING (``schema.name-mapping.default``) — the parquet files
        # keep their Delta physical names and Iceberg readers resolve
        # them to field ids through the alias list, RECURSIVELY for
        # struct fields at any depth (third session: nested entries).
        # Partitioned mapped tables export too (round 10, third
        # session): manifest tuples carry LOGICAL partition keys, the
        # reader's attach path resolves each file's data columns
        # through the name mapping and attaches the partition literal
        # from the manifest — Delta's physically-named hive dirs never
        # need to parse.
        phys_by_logical = {
            f.name: (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            for f in snap.schema.fields
        }
    inv_phys = {p: l for l, p in phys_by_logical.items()}
    src_root = os.path.abspath(delta_path)
    part_cols = [
        inv_phys.get(c, c) for c in snap.partition_columns
    ]
    entries = []
    for a in snap.files:
        stats = a.stats or {}
        n = stats.get("numRecords")
        abs_path = os.path.join(src_root, a.path)
        if n is None:
            n = _footer_rows(abs_path)
        entries.append(
            (
                abs_path,
                {
                    inv_phys.get(k, k): v
                    for k, v in a.partition_values.items()
                },
                int(n),
                int(a.size),
                {
                    "min": {
                        inv_phys.get(k, k): v
                        for k, v in (stats.get("minValues") or {}).items()
                    },
                    "max": {
                        inv_phys.get(k, k): v
                        for k, v in (stats.get("maxValues") or {}).items()
                    },
                },
            )
        )
    os.makedirs(iceberg_path, exist_ok=True)
    delete_entries = []
    dv_adds = [a for a in snap.files if a.deletion_vector]
    if dv_adds:
        import struct as _st

        from . import puffin_lite, roaring
        from .delta_lite import _resolve_dv_path

        blobs = []
        for a in dv_adds:
            dv = a.deletion_vector
            kind, payload = _resolve_dv_path(delta_path, dv)
            if kind == "inline":
                data = roaring.z85_decode(payload)[: int(dv["sizeInBytes"])]
            else:
                with open(payload, "rb") as fh:
                    fh.seek(int(dv.get("offset") or 0))
                    (n,) = _st.unpack(">i", fh.read(4))
                    data = fh.read(n)
            # decode validates the magic; re-encode through the puffin
            # writer adds the blob CRC the iceberg spec requires
            blobs.append(
                {
                    "referenced_data_file": os.path.join(src_root, a.path),
                    "positions": roaring.decode_delta_dv(data),
                }
            )
        dv_rel = f"data/uniform-dv-{_uuid.uuid4().hex}.puffin"
        dest = os.path.join(iceberg_path, dv_rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        for d in puffin_lite.write_puffin(dest, blobs):
            delete_entries.append(
                (
                    dv_rel, {}, int(d["cardinality"]),
                    os.path.getsize(dest), 1, None,
                    {
                        "referenced_data_file": d["referenced_data_file"],
                        "offset": int(d["offset"]),
                        "length": int(d["length"]),
                    },
                )
            )
    existing_mirror = is_iceberg_table(iceberg_path)
    if delete_entries and existing_mirror:
        # a v2 mirror created before the source grew DVs upgrades in
        # place (metadata-only) so the v3 delete entries are legal
        upgrade_iceberg_format(iceberg_path, 3)
    if mapped:
        # Iceberg field ids := the Delta columnMapping ids at every
        # struct level — stable across both logs, so repeated exports
        # after Delta evolution keep resolving (and equality of ids
        # makes the name-mapping alias list unambiguous)
        fields = _mapped_ice_fields(snap.schema)
    else:
        fields = _ice_schema_fields(snap.schema)
    snap_id = _commit_snapshot(
        iceberg_path,
        part_cols,
        data_entries=entries,
        delete_entries=delete_entries,
        schema_fields=fields,
        evolve_schema=existing_mirror,
        replace=True,
        format_version=3 if delete_entries else None,
    )
    if mapped:
        set_iceberg_properties(
            iceberg_path,
            {
                "schema.name-mapping.default": json.dumps(
                    _nm_entries_of(snap.schema)
                )
            },
        )
    return {
        "snapshot_id": snap_id,
        "files": len(entries),
        "dv_files": len(delete_entries),
        "delta_version": snap.version,
    }


def set_iceberg_properties(table_path: str, properties: dict) -> int:
    """``ALTER TABLE SET TBLPROPERTIES`` — a pure metadata commit
    merging ``properties`` into the table's property map (spec §Table
    Metadata ``properties``).  A value of None removes the key
    (UNSET).  Returns the new metadata version."""
    loaded, meta = _load_versioned(table_path)
    props = dict(meta.get("properties") or {})
    for k, v in properties.items():
        if v is None:
            props.pop(k, None)
        else:
            props[k] = str(v)
    new_meta = dict(meta)
    new_meta["properties"] = props
    return _commit_metadata(table_path, loaded + 1, new_meta, meta)


def set_sort_order(table_path: str, order: list) -> dict:
    """Declare the table's DEFAULT SORT ORDER (spec §Sort Orders;
    Spark-on-Iceberg ``ALTER TABLE ... WRITE ORDERED BY``): a pure
    metadata commit appending a sort-orders entry with a fresh
    order-id and pointing default-sort-order-id at it.

    ``order`` is ``[(column, direction, null_order)]`` with direction
    ``asc|desc`` and null_order ``nulls-first|nulls-last`` (defaults:
    asc, nulls-first — the spec's defaults for asc).  Transforms other
    than identity are a named non-goal.  :func:`rewrite_data_files`
    honors the default order when no explicit zorder is requested —
    range-partition + sort-within, so bounds pruning gets the
    clustering the order promises — and stamps ``sort-order-id``
    (spec data_file field 140) on the rewritten files' manifest
    entries."""
    loaded, meta = _load_versioned(table_path)
    fields = []
    known = {
        f["name"]: int(f["id"])
        for f in _current_schema_of(meta).get("fields", [])
    }
    for entry in order:
        if isinstance(entry, str):
            col, direction, nulls = entry, "asc", "nulls-first"
        else:
            col = entry[0]
            direction = entry[1] if len(entry) > 1 else "asc"
            nulls = (
                entry[2]
                if len(entry) > 2
                else ("nulls-first" if direction == "asc" else "nulls-last")
            )
        if col not in known:
            raise IcebergLiteError(
                f"set_sort_order: no such column {col!r}"
            )
        if direction not in ("asc", "desc"):
            raise IcebergLiteError(
                f"set_sort_order: direction must be asc|desc, got "
                f"{direction!r}"
            )
        if nulls not in ("nulls-first", "nulls-last"):
            raise IcebergLiteError(
                "set_sort_order: null order must be "
                f"nulls-first|nulls-last, got {nulls!r}"
            )
        fields.append(
            {
                "transform": "identity",
                "source-id": known[col],
                "direction": direction,
                "null-order": nulls,
            }
        )
    if not fields:
        raise IcebergLiteError("set_sort_order: empty order")
    orders = [dict(o) for o in meta.get("sort-orders") or []]
    new_id = max(
        (int(o.get("order-id") or 0) for o in orders), default=0
    ) + 1
    orders.append({"order-id": new_id, "fields": fields})
    new_meta = dict(meta)
    new_meta["sort-orders"] = orders
    new_meta["default-sort-order-id"] = new_id
    version = loaded + 1
    _commit_metadata(table_path, version, new_meta, meta)
    return {"order_id": new_id, "version": version}


def _default_sort_columns(meta: dict) -> list:
    """[(column name, ascending?, nulls_first?)] of the default sort
    order, [] when unsorted/unknown (order-id 0 is the spec's
    'unsorted')."""
    oid = int(meta.get("default-sort-order-id") or 0)
    if not oid:
        return []
    order = next(
        (
            o
            for o in meta.get("sort-orders") or []
            if int(o.get("order-id") or 0) == oid
        ),
        None,
    )
    if order is None:
        return []
    try:
        names = _field_names_by_id(meta)
    except IcebergLiteError:
        names = {}
    out = []
    for f in order.get("fields", []):
        if (f.get("transform") or "identity") != "identity":
            return []  # transformed sort keys: honor-nothing, by name
        name = names.get(int(f.get("source-id") or -1))
        if name is None:
            return []
        out.append(
            (
                name,
                (f.get("direction") or "asc") == "asc",
                (f.get("null-order") or "nulls-first") == "nulls-first",
            )
        )
    return out


def rewrite_manifests(table_path: str) -> dict:
    """Iceberg's ``rewrite_manifests`` maintenance procedure: merge the
    current snapshot's manifests into ONE per (content, spec-id) — pure
    metadata, no data file touched.  Every append adds a manifest, so a
    100 TB table fed by frequent commits accumulates thousands; since
    scan planning reads every manifest, planning latency grows linearly
    until manifests are compacted.  Merged entries carry their original
    sequence number EXPLICITLY (spec §Sequence Number Inheritance is
    per-manifest, and the merge crosses manifests), so MOR
    delete-visibility rules (``delete.seq >= data.seq``) survive the
    rewrite — the gate asserts identical reads before/after with live
    position deletes.  Commits a REPLACE-style snapshot; old manifests
    age out via :func:`expire_snapshots`."""
    return _carry_commit(table_path)


def _carry_commit(
    table_path: str,
    exclude_orig_paths: frozenset = frozenset(),
    operation: str = "replace",
    force: bool = False,
    base: _Plan | None = None,
) -> dict:
    """Commit a snapshot that CARRIES the current entries into merged
    manifests, optionally EXCLUDING data files (the metadata-only
    DELETE).  Shared engine of :func:`rewrite_manifests` and
    :func:`delete_iceberg`'s partition fast path, which passes the
    ``base`` plan it decided on: the commit carries that plan's
    manifests and claims the version after it."""
    loaded, meta = (
        (base.version, base.meta) if base is not None
        else _load_versioned(table_path)
    )
    rebase = _rebaser(meta, table_path)
    location = meta.get("location") or table_path.rstrip("/")
    cur_id = meta.get("current-snapshot-id")
    cur = next(
        (s for s in meta.get("snapshots") or []
         if s.get("snapshot-id") == cur_id),
        None,
    )
    if cur is None:
        return {"manifests_before": 0, "manifests_after": 0,
                "snapshot_id": None, "rewritten": False}

    groups: dict = {}  # (manifest content, spec_id) -> [entry tuple]
    part_cols_by_spec: dict = {}
    before = 0
    for mf in (
        base.manifests if base is not None
        else _read_manifest_rows(rebase(cur["manifest-list"]))
    ):
        before += 1
        spec_id = int(mf.get("partition_spec_id") or 0)
        mf_seq = int(mf.get("sequence_number") or 0)
        mf_content = int(mf.get("content") or 0)
        if spec_id not in part_cols_by_spec:
            part_cols_by_spec[spec_id] = [
                f.name for f in _partition_spec_fields(meta, spec_id)
            ]
        part_cols = part_cols_by_spec[spec_id]
        # v3 row lineage: the rewrite crosses manifests, so inherited
        # first_row_ids MUST be materialized (spec: rewritten entries
        # carry explicit values) — mirror plan_scan's assignment walk
        mf_fri = mf.get("first_row_id")
        fri_running = None if mf_fri is None else int(mf_fri)
        for entry in _read_manifest_rows(rebase(mf["manifest_path"])):
            if int(entry.get("status") or 0) == 2:  # DELETED drops out
                continue
            seq = entry.get("sequence_number")
            seq = mf_seq if seq is None else int(seq)
            dfile = entry["data_file"]
            fri = dfile.get("first_row_id")
            if mf_content == 0 and int(dfile.get("content") or 0) == 0:
                if fri is not None:
                    fri = int(fri)
                elif fri_running is not None:
                    fri = fri_running
                    fri_running += int(dfile.get("record_count") or 0)
            if dfile["file_path"] in exclude_orig_paths:
                continue
            if (
                str(dfile.get("file_format", "")).upper() == "PUFFIN"
                and dfile.get("referenced_data_file") in exclude_orig_paths
            ):
                continue  # a DV for a dropped data file is dead weight
            groups.setdefault((mf_content, spec_id), []).append(
                _carried_entry(entry, seq, part_cols, fri)
            )
    if before <= len(groups) and not force:
        return {"manifests_before": before, "manifests_after": before,
                "snapshot_id": None, "rewritten": False}
    version = loaded + 1
    snap_id = version
    new_manifests = []
    for (mf_content, spec_id), rows in sorted(groups.items()):
        tag = "data" if mf_content == 0 else "delete"
        man_rel = (
            f"metadata/manifest-{tag}-{snap_id}-{_uuid.uuid4().hex}.avro"
        )
        _write_manifest(
            table_path, man_rel, part_cols_by_spec[spec_id], rows
        )
        new_manifests.append(
            (
                f"{location}/{man_rel}",
                os.path.getsize(os.path.join(table_path, man_rel)),
                spec_id,
                mf_content,
                # list-level fallback for any null entry seq: the max
                # carried sequence is the only lossless single value
                max(r[2] for r in rows),
                snap_id,
                None,  # row ids were materialized per entry above
            )
        )
    ml_rel = f"metadata/snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    avro_lite.write_avro(
        os.path.join(table_path, ml_rel),
        [n for n, _ in _MANIFEST_LIST_FIELDS],
        [t for _, t in _MANIFEST_LIST_FIELDS],
        new_manifests,
        record_name="manifest_file",
    )
    import time as _time

    new_meta = dict(meta)
    snapshots = list(meta.get("snapshots") or [])
    snapshots.append(
        {
            "snapshot-id": snap_id,
            "sequence-number": int(meta.get("last-sequence-number") or 0),
            "parent-snapshot-id": cur_id,
            "timestamp-ms": int(_time.time() * 1000),
            "manifest-list": f"{location}/{ml_rel}",
            "summary": {"operation": operation},
        }
    )
    new_meta["snapshots"] = snapshots
    new_meta["current-snapshot-id"] = snap_id
    refs = dict(meta.get("refs") or {})
    refs["main"] = {"snapshot-id": snap_id, "type": "branch"}
    new_meta["refs"] = refs
    _commit_metadata(
        table_path, version, new_meta, meta,
        staged=_written_metadata(snap_id, new_manifests, ml_rel),
    )
    return {"manifests_before": before, "manifests_after": len(groups),
            "snapshot_id": snap_id, "rewritten": True}


def delete_iceberg(
    spark: SparkSession, table_path: str, predicate: str,
) -> dict:
    """``DELETE FROM <table> WHERE predicate`` in Iceberg's two cost
    shapes:

    - **metadata-only** (predicate references only IDENTITY partition
      source columns, and every live file carries those partition
      values): decide per distinct partition tuple driver-side
      (O(partitions), no data file opened) and commit a snapshot that
      simply omits the matching data files — ``DELETE WHERE day = X``
      on a 100 TB table is a pure metadata commit, exactly what
      Iceberg's overwrite-by-filter does for partition-aligned
      predicates.
    - **merge-on-read** otherwise: matching rows become POSITION-DELETE
      files (one distributed pass over the planned files, delete files
      ranged to the table's file count like :func:`merge_iceberg`) —
      no data file rewritten; :func:`rewrite_data_files` folds the
      debt away later.

    Returns {"snapshot_id", "rows_deleted", "metadata_only", ...}."""
    from pyspark.sql import functions as F

    plan = _plan(table_path)
    meta, files, _dels = plan.meta, plan.files, plan.deletes
    if not files:
        return {"snapshot_id": None, "rows_deleted": 0,
                "metadata_only": True, "files_removed": 0}
    # ---- partition fast path --------------------------------------
    part_fields = _partition_spec_fields(meta)
    identity_sources = [
        f.source for f in part_fields
        if parse_transform(f.transform)[0] == "identity"
    ]
    table_schema = _spark_schema_from_meta(meta)
    matched = None
    if (
        identity_sources
        and table_schema is not None
        and all(c in table_schema.names for c in identity_sources)
        and all(
            all(c in f.partition for c in identity_sources) for f in files
        )
    ):
        # decided by the predicate's column references, never by a
        # failed analysis (Spark logs a ~100-line ERROR stack per
        # AnalysisException)
        matched = partition_match(
            spark, predicate,
            [table_schema[c] for c in identity_sources],
            table_schema.names,
            [tuple(f.partition.get(c) for c in identity_sources)
             for f in files],
        )
    if matched is not None:
        removed = [
            f for f in files
            if tuple(f.partition.get(c) for c in identity_sources) in matched
        ]
        if not removed:
            return {
                "snapshot_id": None, "rows_deleted": 0,
                "metadata_only": True, "files_removed": 0,
            }
        # record_count is the FILE's row count; rows already masked by
        # live position/equality deletes must not be re-counted (ADVICE
        # r9).  Delete-free tables stay a pure metadata decision; tables
        # carrying MOR debt pay one count job over the REMOVED files
        # only — the commit itself is still metadata-only either way.
        if _dels:
            # the predicate is partition-aligned, so live rows matching
            # it are exactly the live rows of the removed files — and as
            # a DATA-column filter it pushes to the parquet scan,
            # pruning every other file on footer stats
            live = _read_plan(spark, plan)
            rows_deleted = int(live.where(F.expr(predicate)).count())
        else:
            rows_deleted = int(sum(f.record_count for f in removed))
        res = _carry_commit(
            table_path,
            exclude_orig_paths=frozenset(f.orig_path for f in removed),
            operation="delete",
            force=True,
            base=plan,
        )
        return {
            "snapshot_id": res["snapshot_id"],
            "rows_deleted": rows_deleted,
            "metadata_only": True,
            "files_removed": len(removed),
        }
    # ---- merge-on-read row path ------------------------------------
    # Match against LIVE rows — the full reader (metadata schema,
    # external-file partition attach, position + equality deletes
    # applied), not raw parquet: matching already-deleted rows would
    # re-count them and emit redundant position-delete entries
    # (ADVICE r9).
    live = _read_plan(spark, plan, _row_refs=True)
    fv = max(2, int(meta.get("format-version", 2)))
    delete_entries, drop_dv_refs, deleted_rows = _stage_row_deletes(
        spark, table_path, live.where(F.expr(predicate)), fv, files, _dels
    )
    if not delete_entries:
        return {"snapshot_id": None, "rows_deleted": 0,
                "metadata_only": False, "delete_files": 0}
    snap_id = _commit_or_discard(
        table_path, part_fields, [], delete_entries, base=plan,
        drop_dv_refs=drop_dv_refs,
    )
    return {
        "snapshot_id": snap_id,
        "rows_deleted": deleted_rows,
        "metadata_only": False,
        "delete_files": len(delete_entries),
    }


def update_iceberg(
    spark: SparkSession, table_path: str, set_exprs: dict, predicate: str,
) -> dict:
    """``UPDATE <table> SET col = expr, ... WHERE predicate`` —
    MERGE-ON-READ: matched rows become POSITION-DELETE files and their
    transformed twins append as new data files, ONE snapshot, no data
    file rewritten (write amplification O(|matched|), the same shape
    as :func:`merge_iceberg`).  SET expressions evaluate against the
    OLD row (one-shot SQL UPDATE semantics).  Returns {"snapshot_id",
    "rows_updated", "delete_files", "appended_files"}."""
    from pyspark.sql import functions as F

    if not set_exprs:
        raise IcebergLiteError("UPDATE needs at least one SET column")
    plan = _plan(table_path)
    if not plan.files:
        return {"snapshot_id": None, "rows_updated": 0,
                "delete_files": 0, "appended_files": 0}
    part_cols = _partition_spec_fields(plan.meta)
    fv = max(2, int(plan.meta.get("format-version", 2)))
    # Match against LIVE rows — the full reader (metadata schema, so
    # SET/WHERE bind to EVOLVED column names; external-file partition
    # attach; position + equality deletes applied), not raw parquet:
    # matching deleted rows resurrected them as transformed live
    # copies (ADVICE r9, the high-severity finding).  On v3 the read
    # also carries ROW LINEAGE so the transformed copies can keep
    # their _row_id (spec: an updated row preserves its id; its
    # _last_updated_sequence_number is left unmaterialized so it
    # inherits the new file's sequence number).
    live = _read_plan(spark, plan, _row_refs=True, row_lineage=fv >= 3)
    schema_cols = [c for c in live.columns if c not in _ROW_REF_COLS]
    unknown = set(set_exprs) - set(schema_cols)
    if unknown:
        raise IcebergLiteError(f"unknown SET columns {sorted(unknown)}")
    # matched feeds BOTH the position/DV staging pass and the
    # transformed-copy append — materialize the (predicate-pruned) MOR
    # read once instead of paying the full read (incl. delete
    # anti-joins) twice
    matched = live.where(F.expr(predicate)).localCheckpoint(eager=True)
    dtypes = dict(live.dtypes)
    updated = matched.select(
        *[
            F.expr(set_exprs[c]).cast(dtypes[c]).alias(c)
            if c in set_exprs
            else F.col(c)
            for c in schema_cols
        ],
        # v3: the moved row keeps its id, MATERIALIZED into the new
        # file (the read-side coalesce prefers it over positional
        # assignment); _last_updated_sequence_number stays absent so
        # it resolves to the new commit's sequence number
        *([F.col("_row_id")] if fv >= 3 else []),
    )
    delete_entries, drop_dv_refs, rows_updated = _stage_row_deletes(
        spark, table_path, matched, fv, plan.files, plan.deletes
    )
    if not delete_entries:
        return {"snapshot_id": None, "rows_updated": 0,
                "delete_files": 0, "appended_files": 0}
    data_entries = _stage_iceberg_data(updated, table_path, part_cols)
    snap_id = _commit_or_discard(
        table_path, part_cols, data_entries, delete_entries, base=plan,
        drop_dv_refs=drop_dv_refs,
    )
    return {
        "snapshot_id": snap_id,
        "rows_updated": rows_updated,
        "delete_files": len(delete_entries),
        "appended_files": len(data_entries),
    }


def _current_schema_of(meta: dict) -> dict:
    schemas = meta.get("schemas") or []
    cur_id = meta.get("current-schema-id", 0)
    for s in schemas:
        if s.get("schema-id") == cur_id:
            return s
    if schemas:
        return schemas[-1]
    if meta.get("schema"):
        return meta["schema"]
    raise IcebergLiteError("table metadata carries no schema")


def _last_column_id(meta: dict) -> int:
    """The highest field id EVER used by this table (spec: table
    metadata ``last-column-id``) — the floor below which no new field
    id may ever be minted, so a dropped column's id can never be
    reused (its bounds maps and equality-delete references would
    otherwise bind to the new column)."""
    explicit = int(meta.get("last-column-id", 0) or 0)
    seen = 0
    for s in (meta.get("schemas") or []) + (
        [meta["schema"]] if meta.get("schema") else []
    ):
        for f in s.get("fields", []):
            seen = max(
                seen, int(f["id"]),
                *(list(_walk_type_ids(f["type"])) or [0]),
            )
    return max(explicit, seen)


_ADDABLE_ICE_TYPES = frozenset({
    "long", "int", "double", "float", "string", "boolean", "date",
    "binary", "timestamptz", "timestamp", "uuid",
})


def alter_iceberg_schema(
    table_path: str,
    renames: dict | None = None,
    drops: list | None = None,
    adds: dict | None = None,
    widens: dict | None = None,
) -> dict:
    """``ALTER TABLE RENAME COLUMN`` / ``DROP COLUMN`` — a pure
    METADATA commit (spec §Schema Evolution: renames and drops never
    touch a data file; everything — partition specs, equality deletes,
    bounds maps — resolves through FIELD IDS, which this commit
    preserves).  A new schema version is appended, ``current-schema-id``
    advances, and ``last-column-id`` records the all-time id high-water
    mark so a later re-add of a dropped NAME mints a fresh id and the
    dropped data can never resurrect.

    DOTTED PATHS address NESTED struct fields (``info.city``) — renames
    and drops mutate the leaf field inside a deep-copied schema tree,
    preserving every field id on the path, and adds append a fresh-id
    field to the parent struct.  Round 11: nested adds accept DEFAULTS
    too (v3; read_iceberg groups files per-footer by whether the
    nested path physically exists and injects the default via
    ``withField``), and both nested and top-level adds accept
    COMPOSITE struct/list/map types (nested ids minted past
    last-column-id) with struct/list/map default values in the spec's
    JSON single-value form.
    Renaming or dropping a column that a
    LIVE equality-delete file equates on refuses — those delete rows
    are matched by reading the delete parquet under the current column
    names, so the DDL would break their application (fold the deletes
    in first with :func:`rewrite_data_files`).  Dropping an ACTIVE
    partition spec's source column refuses (the spec's transform would
    have nothing to bind to); renaming one is fine — the spec resolves
    its source by id.

    ``widens`` maps a (possibly dotted) column path to a WIDER iceberg
    type — the spec's valid type promotions only (``int -> long``,
    ``float -> double``, ``decimal(P,S) -> decimal(P'>P,S)``).  Like
    every other verb here it is a pure metadata commit: old files keep
    their narrow physical type and scan under the widened schema
    (Spark's native parquet upcast, the same machinery as
    ``delta_lite.widen_column``); field ids are untouched, so bounds
    maps and partition specs keep resolving — and ``bucket`` transforms
    stay stable because the spec hashes int and long identically.

    Mirrors Spark-on-Iceberg ``ALTER TABLE`` DDL (reference: the
    InsuranceLake Consume layer evolves schemas between loads).
    Returns {"schema_id", "version"}.
    """
    import copy as _copy

    renames = dict(renames or {})
    drops = list(drops or [])
    adds = dict(adds or {})
    widens = dict(widens or {})
    if not renames and not drops and not adds and not widens:
        raise IcebergLiteError("alter_iceberg_schema: nothing to do")
    loaded, meta = _load_versioned(table_path)
    cur = _current_schema_of(meta)
    # deep copy: nested renames/drops mutate struct type dicts in place
    fields = _copy.deepcopy(list(cur.get("fields", [])))
    by_name = {f["name"]: f for f in fields}
    overlap = set(renames) & set(drops)
    if overlap:
        raise IcebergLiteError(
            f"columns both renamed and dropped: {sorted(overlap)}"
        )

    def _resolve_path(path: str):
        """Walk a dotted path through struct types; returns the parent
        struct's mutable fields list and the leaf field dict."""
        parts = path.split(".")
        cur_fields = fields
        for i, seg in enumerate(parts):
            hit = next(
                (f for f in cur_fields if f["name"] == seg), None
            )
            if hit is None:
                raise IcebergLiteError(f"no such column {path!r}")
            if i == len(parts) - 1:
                return cur_fields, hit
            t = hit["type"]
            if not (isinstance(t, dict) and t.get("type") == "struct"):
                raise IcebergLiteError(
                    f"{'.'.join(parts[: i + 1])!r} is not a struct; "
                    f"cannot address {path!r}"
                )
            cur_fields = t["fields"]

    # split nested (dotted) operations out; they run on the deep copy
    # before the top-level pass
    nested_renames = {c: n for c, n in renames.items() if "." in c}
    nested_drops = [c for c in drops if "." in c]
    nested_adds = {c: s for c, s in adds.items() if "." in c}
    renames = {c: n for c, n in renames.items() if "." not in c}
    drops = [c for c in drops if "." not in c]
    adds = {c: s for c, s in adds.items() if "." not in c}
    nested_touched_ids: set[int] = set()
    nested_dropped_ids: set[int] = set()
    for path in sorted(nested_drops):
        parent, leaf = _resolve_path(path)
        if len(parent) == 1:
            raise IcebergLiteError(
                f"cannot drop {path!r}: it is the only field of its "
                "struct"
            )
        nested_touched_ids.add(int(leaf["id"]))
        nested_touched_ids.update(_walk_type_ids(leaf["type"]))
        nested_dropped_ids.add(int(leaf["id"]))
        parent.remove(leaf)
    for path, new_name in sorted(nested_renames.items()):
        parent, leaf = _resolve_path(path)
        if "." in new_name:
            raise IcebergLiteError(
                f"rename target {new_name!r} must be a bare field name"
            )
        if any(f["name"] == new_name for f in parent if f is not leaf):
            raise IcebergLiteError(
                f"rename {path!r} -> {new_name!r} collides inside its "
                "struct"
            )
        nested_touched_ids.add(int(leaf["id"]))
        leaf["name"] = new_name
    for path, new_t in sorted(widens.items()):
        _, leaf = _resolve_path(path)
        old_t = leaf["type"]
        ok = isinstance(old_t, str) and (old_t, new_t) in (
            ("int", "long"), ("float", "double")
        )
        if (
            isinstance(old_t, str)
            and old_t.startswith("decimal(")
            and str(new_t).startswith("decimal(")
        ):
            op_, os_ = (
                int(x) for x in old_t[8:-1].replace(" ", "").split(",")
            )
            np_, ns_ = (
                int(x) for x in str(new_t)[8:-1].replace(" ", "").split(",")
            )
            ok = ns_ == os_ and np_ > op_
        if not ok:
            raise IcebergLiteError(
                f"widen {path!r}: {old_t!r} -> {new_t!r} is not a legal "
                "iceberg type promotion (int->long, float->double, "
                "decimal precision growth at the same scale)"
            )
        # a widened column equated by a live equality delete would be
        # read back under a different type — same guard as rename/drop
        nested_touched_ids.add(int(leaf["id"]))
        leaf["type"] = new_t
    next_id = _last_column_id(meta)
    fv = max(2, int(meta.get("format-version", 2)))

    def _prep_add(label: str, spec):
        """Normalize one ADD COLUMN spec -> (typed object with minted
        nested ids, id-keyed default or None), advancing ``next_id``.
        Composite (struct/list/map) types mint ids for every nested
        field; defaults (v3 §Default values) accept the spec's
        id-keyed JSON single-value form or, for convenience, a
        NAME-keyed struct dict (ids are minted in this same commit, so
        the caller cannot know them)."""
        nonlocal next_id
        if isinstance(spec, dict) and spec.get("type") in (
            "struct", "list", "map"
        ):
            # the spec IS a composite iceberg type object
            ice_type, default = spec, None
        elif isinstance(spec, dict):
            # wrapper form: {"type": <str or composite dict>, "default": v}
            ice_type, default = spec.get("type"), spec.get("default")
        else:
            ice_type, default = spec, None
        if isinstance(ice_type, dict):
            if _spark_type_from_ice(ice_type) is None:
                raise IcebergLiteError(
                    f"add {label!r}: unmappable iceberg type "
                    f"{ice_type!r}"
                )
            ice_type, next_id = _mint_ice_type_ids(ice_type, next_id)
        elif ice_type not in _ADDABLE_ICE_TYPES and not str(
            ice_type
        ).startswith("decimal("):
            raise IcebergLiteError(
                f"add {label!r}: unsupported iceberg type {ice_type!r}"
            )
        if default is not None:
            if fv < 3:
                raise IcebergLiteError(
                    f"add {label!r} with a default requires "
                    "format-version 3 (run upgrade_iceberg_format first)"
                )
            default = _name_keyed_to_id_keyed(ice_type, default)
            if not _valid_default_json(ice_type, default):
                raise IcebergLiteError(
                    f"add {label!r}: default {default!r} does not fit "
                    f"iceberg type {ice_type!r} (spec Appendix D JSON "
                    "single-value form)"
                )
        return ice_type, default

    for path, spec in sorted(nested_adds.items()):
        parent_path, _, leaf_name = path.rpartition(".")
        _, p_field = _resolve_path(parent_path)
        t = p_field["type"]
        if not (isinstance(t, dict) and t.get("type") == "struct"):
            raise IcebergLiteError(
                f"cannot add {path!r}: {parent_path!r} is not a struct"
            )
        if any(f["name"] == leaf_name for f in t["fields"]):
            raise IcebergLiteError(
                f"cannot add {path!r}: it already exists"
            )
        ice_type, default = _prep_add(path, spec)
        next_id += 1
        fd = {
            "id": next_id, "name": leaf_name, "required": False,
            "type": ice_type,
        }
        if default is not None:
            fd["initial-default"] = default
            fd["write-default"] = default
        t["fields"].append(fd)
    for c in list(renames) + drops:
        if c not in by_name:
            raise IcebergLiteError(f"no such column {c!r}")
    # guard: live equality-delete files reference equated columns by id,
    # but their parquet payload is read under CURRENT names — refuse
    # altering any equated column while such deletes are live
    try:
        _, live_deletes = plan_scan(table_path)
    except IcebergLiteError:
        live_deletes = []
    eq_ids_live = set()
    for d in live_deletes:
        if d.content == 2:
            eq_ids_live.update(d.equality_ids or ())
    touched_ids = {
        int(by_name[c]["id"]) for c in list(renames) + drops
    } | nested_touched_ids
    bad_eq = touched_ids & eq_ids_live
    if bad_eq:
        raise IcebergLiteError(
            f"columns with field ids {sorted(bad_eq)} are equated by "
            "live equality-delete files; run rewrite_data_files to fold "
            "the deletes in before altering them"
        )
    # guard: active partition spec sources can be renamed (id-resolved)
    # but not dropped
    spec_source_ids = {
        int(f.get("source-id") or -1)
        for s in meta.get("partition-specs") or []
        if s.get("spec-id") == meta.get("default-spec-id", 0)
        for f in s.get("fields", [])
    }
    dropped_spec = {
        c for c in drops if int(by_name[c]["id"]) in spec_source_ids
    }
    if dropped_spec or (nested_dropped_ids & spec_source_ids):
        raise IcebergLiteError(
            f"cannot drop active partition source columns "
            f"{sorted(dropped_spec) or sorted(nested_dropped_ids & spec_source_ids)}"
        )
    final_names = {
        renames.get(f["name"], f["name"])
        for f in fields
        if f["name"] not in drops
    }
    if len(final_names) != len(fields) - len(drops):
        raise IcebergLiteError(
            "rename would collide with an existing column name"
        )
    if len(fields) - len(drops) == 0:
        raise IcebergLiteError("cannot drop every column of a table")
    new_fields = []
    for f in fields:
        if f["name"] in drops:
            continue
        g = dict(f)
        if f["name"] in renames:
            g["name"] = renames[f["name"]]
        new_fields.append(g)
    # ADD COLUMN (spec §Schema Evolution; v3 §Default values): new
    # fields mint ids past last-column-id.  A default makes rows
    # written BEFORE the column surface it instead of null
    # (``initial-default``, materialized per-file by read_iceberg);
    # appends that omit the column MATERIALIZE ``write-default`` into
    # their data files (write_iceberg, round 10 — spec-conforming
    # writer behavior; changing the default later is still a named
    # non-goal).  Defaults require format v3.  Round 11: composite
    # (struct/list/map) column adds mint nested field ids, and
    # struct/list/map DEFAULT values are accepted in the spec's JSON
    # single-value form (Appendix D; struct values may be given
    # name-keyed for convenience — ids are minted in this commit).
    for name, spec in sorted(adds.items()):
        if name in final_names:
            raise IcebergLiteError(
                f"cannot add column {name!r}: it already exists"
            )
        final_names.add(name)
        ice_type, default = _prep_add(name, spec)
        next_id += 1
        fd = {
            "id": next_id, "name": name, "required": False,
            "type": ice_type,
        }
        if default is not None:
            fd["initial-default"] = default
            fd["write-default"] = default
        new_fields.append(fd)
    schemas = list(meta.get("schemas") or [])
    if not schemas:
        # v1-style single schema: materialize it as schema-id 0 first
        schemas = [
            {
                "schema-id": 0,
                "type": "struct",
                "fields": cur.get("fields", []),
            }
        ]
    new_sid = max(int(s.get("schema-id") or 0) for s in schemas) + 1
    schemas.append(
        {"schema-id": new_sid, "type": "struct", "fields": new_fields}
    )
    new_meta = dict(meta)
    new_meta["schemas"] = schemas
    new_meta["current-schema-id"] = new_sid
    new_meta["last-column-id"] = max(_last_column_id(meta), next_id)
    new_meta.pop("schema", None)  # the v1 single-schema form is stale now
    version = loaded + 1
    _commit_metadata(table_path, version, new_meta, meta)
    return {"schema_id": new_sid, "version": version}


def upgrade_iceberg_format(table_path: str, to_version: int = 3) -> dict:
    """``ALTER TABLE ... SET TBLPROPERTIES ('format-version'='3')``:
    a pure METADATA commit bumping the table's format version (spec
    §Table Metadata: readers of version N read all versions <= N, so
    upgrade never rewrites a file).  Upgrading to 3 initializes the
    row-lineage chain (``next-row-id`` = 0): pre-upgrade data files
    keep null ``first_row_id`` and read as null ``_row_id`` (the spec's
    lazy-assignment rule), while every post-upgrade commit assigns real
    ids.  Pre-upgrade position-delete parquet stays valid and applied;
    NEW row deletes must arrive as deletion vectors, which fold the old
    position deletes for their file in (the supersede rule
    :func:`read_iceberg` enforces).  Downgrades refuse."""
    loaded, meta = _load_versioned(table_path)
    cur = max(2, int(meta.get("format-version", 2)))
    to_version = int(to_version)
    if to_version not in (2, 3):
        raise IcebergLiteError(
            f"format-version must be 2 or 3, got {to_version}"
        )
    if to_version < cur:
        raise IcebergLiteError(
            f"cannot downgrade format-version {cur} -> {to_version}"
        )
    if to_version == cur:
        return {"format_version": cur, "upgraded": False}
    new_meta = dict(meta)
    new_meta["format-version"] = to_version
    if "next-row-id" not in new_meta:
        new_meta["next-row-id"] = 0
    _commit_metadata(table_path, loaded + 1, new_meta, meta)
    return {"format_version": to_version, "upgraded": True}


def rollback_to_snapshot(table_path: str, snapshot_id) -> dict:
    """Iceberg's ``rollback_to_snapshot`` maintenance procedure: make an
    EARLIER snapshot current again by a pure metadata commit — no file
    touched, instantly reversible (the abandoned snapshots stay in the
    list until :func:`expire_snapshots` reclaims them).  This is the
    production "bad load landed, get yesterday back NOW" lever.
    ``snapshot_id`` accepts an id or a ref name; the main branch
    follows the rollback target."""
    loaded, meta = _load_versioned(table_path)
    target = _resolve_ref(meta, snapshot_id)
    known = {s.get("snapshot-id") for s in meta.get("snapshots") or []}
    if target not in known:
        raise IcebergLiteError(
            f"cannot roll back to unknown snapshot {target} "
            f"(have {sorted(known)})"
        )
    prior = meta.get("current-snapshot-id")
    new_meta = dict(meta)
    new_meta["current-snapshot-id"] = target
    refs = dict(meta.get("refs") or {})
    refs["main"] = {"snapshot-id": int(target), "type": "branch"}
    new_meta["refs"] = refs
    version = loaded + 1
    _commit_metadata(table_path, version, new_meta, meta)
    return {"previous_snapshot_id": prior, "current_snapshot_id": target,
            "version": version}


def remove_orphan_files(table_path: str, dry_run: bool = False) -> dict:
    """Iceberg's ``remove_orphan_files`` maintenance procedure — the
    third leg of the trio next to ``rewrite_data_files`` and
    ``expire_snapshots``: files under the table location that NO
    snapshot references (lost-race commit leftovers, killed-job
    stragglers) accumulate forever otherwise, and at 100 TB the orphan
    bytes are real money.  Referenced = every snapshot's manifest tree
    plus the metadata jsons themselves; everything else under ``data/``
    and ``metadata/`` goes (or is listed, with ``dry_run``)."""
    import glob as _glob

    meta = _load_metadata(table_path)
    referenced: set = set()
    for snap in meta.get("snapshots") or []:
        referenced |= _snapshot_owned_paths(meta, table_path, snap)
    meta_dir = os.path.join(table_path, "metadata")
    on_disk = set(
        _glob.glob(os.path.join(table_path, "data", "**", "*"),
                   recursive=True)
    ) | set(_glob.glob(os.path.join(meta_dir, "*")))
    orphans = sorted(
        p
        for p in on_disk
        if os.path.isfile(p)
        and p not in referenced
        and not p.endswith(".metadata.json")
        and os.path.basename(p) != "version-hint.text"
    )
    if not dry_run:
        for p in orphans:
            try:
                os.remove(p)
            except OSError:
                pass
    return {"orphans": orphans, "deleted": 0 if dry_run else len(orphans)}


def _snapshot_owned_paths(meta: dict, table_path: str, snap: dict) -> set:
    """Every LOCAL path a snapshot's metadata tree references: its
    manifest list, its manifests, and their data/delete files.
    O(files) driver-side metadata walk, same cost class as planning."""
    rebase = _rebaser(meta, table_path)
    ml = rebase(snap["manifest-list"])
    owned = {ml}
    for mf in _read_manifest_rows(ml):
        man = rebase(mf["manifest_path"])
        owned.add(man)
        for entry in _read_manifest_rows(man):
            owned.add(rebase(entry["data_file"]["file_path"]))
    return owned


def expire_snapshots(
    table_path: str,
    keep_last: int = 1,
    older_than_ms: int | None = None,
    keep_metadata_versions: int | None = None,
) -> dict:
    """MOR maintenance: drop old snapshots from the table metadata and
    DELETE the files only they reference — Iceberg's
    ``expire_snapshots``.  Retained: the current snapshot, the newest
    ``keep_last`` snapshots, and (when ``older_than_ms`` is given) every
    snapshot with ``timestamp-ms > older_than_ms``.  Time travel to an
    expired snapshot id then REFUSES (the reader's unknown-snapshot
    error) rather than returning a partially-reclaimed view — the same
    refusal semantics as ``delta_lite.vacuum``.  The pruned snapshot
    list commits as the next metadata version (O_EXCL), so a concurrent
    writer can never lose its commit to the expiry.  Returns
    {"expired", "retained", "deleted_files", "version"}.
    """
    loaded, meta = _load_versioned(table_path)
    snaps = sorted(
        meta.get("snapshots") or [],
        key=lambda s: int(s.get("sequence-number") or s["snapshot-id"]),
    )
    if not snaps:
        return {"expired": [], "retained": [], "deleted_files": 0,
                "version": None}
    current_id = meta.get("current-snapshot-id")
    keep_ids = {current_id}
    keep_ids.update(s["snapshot-id"] for s in snaps[-max(keep_last, 1):])
    # a snapshot pinned by any branch/tag ref is NEVER expirable (spec
    # §Snapshot Retention Policy) — drop the ref first if you mean it
    keep_ids.update(
        int(r.get("snapshot-id"))
        for r in (meta.get("refs") or {}).values()
        if r.get("snapshot-id") is not None
    )
    if older_than_ms is not None:
        keep_ids.update(
            s["snapshot-id"]
            for s in snaps
            if int(s.get("timestamp-ms") or 0) > older_than_ms
        )
    retained = [s for s in snaps if s["snapshot-id"] in keep_ids]
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return {"expired": [], "retained": sorted(keep_ids),
                "deleted_files": 0, "version": None}
    live: set = set()
    for s in retained:
        live |= _snapshot_owned_paths(meta, table_path, s)
    dead: set = set()
    for s in expired:
        dead |= _snapshot_owned_paths(meta, table_path, s)
    version = loaded + 1
    new_meta = dict(meta)
    new_meta["snapshots"] = retained
    # commit before deleting: a lost claim leaves every file in place
    _commit_metadata(table_path, version, new_meta, meta)
    deleted = 0
    root = os.path.abspath(table_path) + os.sep
    for path in sorted(dead - live):
        if not os.path.abspath(path).startswith(root):
            # files imported via add_files live OUTSIDE the table root;
            # the table references, but never owns, those bytes
            continue
        try:
            os.remove(path)
            deleted += 1
        except OSError:
            pass
    meta_dir = os.path.join(table_path, "metadata")
    deleted_meta = 0
    if keep_metadata_versions is not None:
        # Iceberg's write.metadata.previous-versions-max: old
        # vN.metadata.json files serve no reader (the HIGHEST version is
        # authoritative and carries the full snapshot list) — retain the
        # newest K, reclaim the rest
        versions_now = _metadata_versions(meta_dir)
        for v in versions_now[: -max(int(keep_metadata_versions), 1)]:
            try:
                os.remove(os.path.join(meta_dir, f"v{v}.metadata.json"))
                deleted_meta += 1
            except OSError:
                pass
    return {
        "expired": [s["snapshot-id"] for s in expired],
        "retained": sorted(keep_ids),
        "deleted_files": deleted,
        "deleted_metadata_files": deleted_meta,
        "version": version,
    }
