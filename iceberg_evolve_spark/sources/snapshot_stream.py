"""Structured Streaming SOURCE over a :class:`SnapshotTable` — Iceberg's
incremental streaming read (``spark.readStream.format("iceberg")``) built on
the Spark 4 Python DataSource API.

The snapshot log IS a replayable change log: every fast-append commit names
exactly the files it added (its manifest), so a streaming consumer can tail
the table by version number —

* **offset** = snapshot version (a single monotone integer; checkpoints
  store it, restarts resume from it);
* **micro-batch (start, end]** = the data files added by the commits in that
  version range, assembled from the MANIFESTS — O(new files) planning, no
  directory listing, no data diff;
* **partition** = one added file; executors read their file via Arrow and
  emit record batches, so a big append parallelizes per file exactly like a
  batch scan of the same data;
* **exactly-once** = pure recomputation: the same version range always
  resolves to the same file list (manifests are immutable), the same files
  always hold the same rows (data files are immutable).

Append-only discipline, as Iceberg: a commit that is not a plain append
(row deletes, compaction rewrite, rollback, delete-fold) breaks
"new rows = new files" attribution, so the reader RAISES when the range
crosses one — or skips it under ``on_change="skip"`` (emitting only the
appended files of the range, a row delta's included; Iceberg's
``streaming-skip-delete-snapshots`` / ``streaming-skip-overwrite-snapshots``
escape hatch).

Usage::

    spark.dataSource.register(SnapshotStreamDataSource)
    stream = (spark.readStream.format("snapshot_stream")
              .option("path", table_dir)
              .option("on_change", "fail")       # default
              .load())

At 100 TB: the driver's per-batch work is reading a few KB of manifest
JSON; the data plane is per-file Arrow scans on executors. A CDC-heavy
table streams through :mod:`.snapshots`' changelog instead — this source is
the append-cadence fast path, which is also the only shape Iceberg's own
streaming source supports natively.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from iceberg_evolve_spark.sources.snapshots import (
    SnapshotTable,
    delete_stack_keys,
)

#: Arrow → Spark DDL for scalar leaf types; nested types (list / struct /
#: map) recurse through :func:`_arrow_ddl`, so the tail source covers every
#: table the batch reader does.
_ARROW_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "date32[day]": "date",
    "binary": "binary",
    "large_binary": "binary",
}


def _arrow_ddl(atype) -> str:
    """Arrow type → Spark DDL, recursively (list/struct/map supported)."""
    import pyarrow as pa

    if pa.types.is_dictionary(atype):
        return _arrow_ddl(atype.value_type)
    if pa.types.is_list(atype) or pa.types.is_large_list(atype):
        return f"array<{_arrow_ddl(atype.value_type)}>"
    if pa.types.is_struct(atype):
        inner = ", ".join(
            f"{atype.field(i).name}: {_arrow_ddl(atype.field(i).type)}"
            for i in range(atype.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_map(atype):
        return f"map<{_arrow_ddl(atype.key_type)}, {_arrow_ddl(atype.item_type)}>"
    t = str(atype)
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith("decimal128(") or t.startswith("decimal("):
        return t.replace("decimal128", "decimal")
    if t in _ARROW_DDL:
        return _ARROW_DDL[t]
    raise ValueError(f"arrow type {t} not supported by the streaming tail")


def _table_ddl(table_path: str) -> str:
    """Schema of the table's current snapshot as a DDL string, from one
    parquet footer (KB-scale driver read)."""
    import pyarrow.parquet as pq

    table = SnapshotTable(table_path)
    entries = table.versions()
    if not entries:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    files = table._entry_abs_files(entries[-1])
    if not files:
        raise FileNotFoundError(f"snapshot has no data files: {table_path}")
    schema = pq.ParquetFile(files[0]).schema_arrow
    cols = []
    for field in schema:
        try:
            ddl = _arrow_ddl(field.type)
        except ValueError as exc:
            raise ValueError(f"column {field.name!r}: {exc}") from None
        cols.append(f"{field.name} {ddl}")
    return ", ".join(cols)


def _manifest_files(table_path: str, entry: dict, mnames) -> list[tuple]:
    """(absolute path, schema id) per file of the named manifests; the id
    is the generation the manifest was committed under (None when the
    lineage is not schema-tracked)."""
    dd = os.path.join(table_path, entry["data_dir"])
    sids = entry.get("manifest_schemas", {})
    out = []
    for mname in sorted(mnames):
        with open(os.path.join(table_path, mname)) as fh:
            out.extend(
                (os.path.join(dd, rel), sids.get(mname))
                for rel in json.load(fh)["files"]
            )
    return out


def _added_files(
    table_path: str,
    start_v: int,
    end_v: int,
    on_change: str,
    with_schema: bool = False,
) -> list:
    """Data files added by commits in (start_v, end_v] — the manifests an
    entry carries beyond its predecessor's. Non-append commits raise (or
    are skipped under ``on_change='skip'``): deletes/rewrites/rollbacks
    change visibility without adding rows, so "new rows = new files"
    attribution would be wrong across them. Skip mode still emits the
    files a row delta (delete + add in one commit) adds.
    ``with_schema=True`` returns ``(path, schema_id)`` pairs instead of
    bare paths — the schema id each file's manifest was committed under
    on a schema-tracked lineage (None when untracked), so the reader can
    detect and project drifted generations. A schema-evolution commit
    itself adds no files and is therefore transparent to the rows-only
    tail.

    Exactly-once under retention: each emitted version diffs against the
    nearest RETAINED predecessor entry (manifest lists are cumulative per
    entry, so the set difference attributes every file exactly once even
    when ``expire_snapshots`` left gaps in the log — e.g. only tagged
    versions retained mid-range). The full-set bootstrap is allowed ONLY
    for a from-zero consumer (``start_v == 0``) at the oldest retained
    snapshot; a checkpointed offset that is no longer in the log raises
    instead of silently re-delivering rows the consumer already has."""
    entries = SnapshotTable(table_path).versions()
    by_v = {e["version"]: e for e in entries}
    if not by_v:
        return []
    first_v = min(by_v)
    if start_v and start_v < end_v and start_v not in by_v:
        raise ValueError(
            f"stream offset v{start_v} is not in the retained log (oldest "
            f"v{first_v}): snapshots were expired under the consumer — "
            "restart the stream from scratch"
        )
    out: list[str] = []
    prev = by_v.get(start_v) if start_v else None
    for v in sorted(by_v):
        if v <= start_v or v > end_v:
            continue
        e = by_v[v]
        cur = set(e["manifests"])
        if prev is None:
            if v != first_v or start_v != 0:
                # a gap below v with a non-zero checkpoint would re-emit
                # v's whole cumulative set — refuse (handled above), and
                # defend here against any other path into this state
                raise ValueError(
                    f"snapshot v{v} has no retained predecessor to diff "
                    "against — restart the stream from scratch"
                )
            if e.get("deletes") and on_change != "skip":
                # the bootstrap snapshot carries row-level deletes: a
                # rows-from-files tail would deliver the deleted rows too
                # (files are the unit; visibility is not) — refuse, like
                # any other non-append shape; skip mode keeps the
                # documented rows-not-visibility contract
                raise ValueError(
                    f"bootstrap snapshot v{v} carries row-level deletes; "
                    "the file-attributed tail cannot express them — set "
                    "on_change='skip' (rows, not visibility) or consume "
                    "changes_between() instead"
                )
            # from-zero bootstrap at the oldest retained snapshot: its
            # ENTIRE (cumulative) file set is the table state to deliver
            out.extend(_manifest_files(table_path, e, cur))
            prev = e
            continue
        prev_m = set(prev["manifests"])
        # skip mode still delivers the rows a row delta ADDS (its delete
        # changes visibility only — rows, not visibility, is the contract)
        if (
            prev_m <= cur
            and e.get("rollback_of") is None
            and not e.get("rewrite")
            and not e.get("delete_rewrite")
            and (
                on_change == "skip"
                or delete_stack_keys(e) == delete_stack_keys(prev)
            )
        ):
            out.extend(_manifest_files(table_path, e, cur - prev_m))
        elif on_change != "skip":
            raise ValueError(
                f"snapshot v{v} is not a plain append (delete/rewrite/"
                "rollback in the streamed range); set on_change='skip' to "
                "stream past it, or consume changes_between() instead"
            )
        prev = e
    return out if with_schema else [p for p, _sid in out]


def _project_by_field_id(tbl, gen_json: dict, pinned_json: dict):
    """Rename/select/fill an Arrow table written under the ``gen_json``
    schema into the PINNED schema's top-level shape by FIELD ID — the
    streaming twin of ``operators/migrate_df.py``. Renames map through
    the id; fields the generation lacks fill with their Iceberg-v3
    ``initial-default`` (else null). Type WIDENING is delegated to the
    reader's declared-schema cast downstream; a nested shape change that
    cannot cast raises there — the documented loud failure, never silent
    corruption."""
    import pyarrow as pa

    gen_by_id = {f["id"]: f for f in gen_json["fields"]}
    n = len(tbl)
    cols, names = [], []
    for f in pinned_json["fields"]:
        g = gen_by_id.get(f["id"])
        if g is not None and g["name"] in tbl.schema.names:
            cols.append(tbl.column(g["name"]))
        else:
            default = f.get("initial-default")
            cols.append(
                pa.nulls(n) if default is None else pa.array([default] * n)
            )
        names.append(f["name"])
    return pa.table(dict(zip(names, cols)))


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        sid: "int | None" = None,
        gen_json: "dict | None" = None,
    ):
        self.path = path
        self.sid = sid
        # the generation's schema JSON rides on the partition for ids the
        # reader's pinned map predates (a mid-stream evolve_schema commits
        # a NEWER generation than any known at reader construction) — the
        # partition is pickled per batch, so executors always see it
        self.gen_json = gen_json


class SnapshotStreamReader(DataSourceStreamReader):
    """Version-offset micro-batch reader (see module docstring).

    SCHEMA DRIFT (round 12): on a schema-tracked table the stream PINS the
    schema generation current at reader construction. Files committed
    under a different generation (the table evolved mid-stream) are
    handled per ``on_schema_change``:

    * ``"fail"`` (default) — raise loudly, naming both generations: the
      consumer restarts the stream to pick up the new schema;
    * ``"project"`` — resolve the file to the pinned schema by FIELD ID
      (renames map, dropped-then-readded columns fill with their
      default/NULL), exactly the batch reader's generation resolution, so
      a long-running consumer keeps its declared schema across renames
      and additive evolution. A file whose matched column cannot cast to
      the pinned type still raises (never silent corruption).
    """

    def __init__(self, options: dict, schema=None):
        self.table_path = options.get("path")
        if not self.table_path:
            raise ValueError("option 'path' (the SnapshotTable dir) required")
        self.on_change = options.get("on_change", "fail")
        self.on_schema_change = options.get("on_schema_change", "fail")
        self.start_version = int(options.get("start_version", 0))
        self._schema = schema
        entries = SnapshotTable(self.table_path).versions()
        head = entries[-1] if entries else {}
        # pinned at construction; partitions stamped with a different id
        # are drifted generations (self is pickled to executors, so the
        # schema dict rides along — KB of JSON)
        self._pinned_sid = head.get("schema_id")
        self._schemas = head.get("schemas", {})

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        entries = SnapshotTable(self.table_path).versions()
        return {"version": entries[-1]["version"] if entries else 0}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        files = _added_files(
            self.table_path,
            int(start["version"]),
            int(end["version"]),
            self.on_change,
            with_schema=True,
        )
        # FORWARD drift (ADVICE r12): files committed under a schema id
        # CREATED after reader construction are missing from the pinned
        # map — refresh generation schemas driver-side from the live log
        # head (which carries every generation a retained manifest needs)
        # and attach the drifted file's generation JSON to its partition.
        live: "dict | None" = None
        parts = []
        for p, sid in files:
            gen_json = None
            if sid is not None and sid != self._pinned_sid:
                gen_json = self._schemas.get(str(sid))
                if gen_json is None:
                    if live is None:
                        entries = SnapshotTable(self.table_path).versions()
                        live = (
                            entries[-1].get("schemas", {}) if entries else {}
                        )
                    gen_json = live.get(str(sid))
            parts.append(_FilePartition(p, sid, gen_json))
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.path)
        if (
            partition.sid is not None
            and self._pinned_sid is not None
            and partition.sid != self._pinned_sid
        ):
            if self.on_schema_change != "project":
                raise ValueError(
                    f"file {partition.path} was committed under schema id "
                    f"{partition.sid} but this stream pinned schema id "
                    f"{self._pinned_sid} (the table evolved mid-stream) — "
                    "restart the stream to adopt the new schema, or set "
                    "on_schema_change='project'"
                )
            gen_json = partition.gen_json or self._schemas.get(
                str(partition.sid)
            )
            if gen_json is None:  # pragma: no cover - log corruption
                raise ValueError(
                    f"file {partition.path} carries unknown schema id "
                    f"{partition.sid} (not in the pinned map or the live "
                    "log head) — the snapshot log is corrupt or the "
                    "generation was expired mid-stream"
                )
            tbl = _project_by_field_id(
                tbl,
                gen_json,
                self._schemas[str(self._pinned_sid)],
            )
        # Cast every file to the stream's DECLARED schema: Spark's Arrow
        # ingestion binds typed accessors from it, and files of different
        # commit generations may legally differ in physical type (an
        # int32-written column in a bigint table) or encoding
        # (dictionary) — schema-on-read normalization, as the batch
        # reader's union_by_field_id does for richer evolution.
        if self._schema is not None:
            from pyspark.sql.pandas.types import to_arrow_type

            target = pa.schema(
                [
                    pa.field(
                        f.name, to_arrow_type(f.dataType), nullable=True
                    )
                    for f in self._schema.fields
                ]
            )
            tbl = tbl.select([f.name for f in self._schema.fields])
        else:
            target = pa.schema(
                [
                    pa.field(
                        f.name,
                        f.type.value_type
                        if pa.types.is_dictionary(f.type)
                        else f.type,
                        nullable=True,
                    )
                    for f in tbl.schema
                ]
            )
        yield from tbl.cast(target).combine_chunks().to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; nothing to clean up


class SnapshotStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snapshot_stream"

    def schema(self):
        # schema-tracked tables declare the TRACKED current schema (the
        # head may legally contain files of several physical generations,
        # so a footer sample would be wrong); untracked tables keep the
        # one-footer derivation. All fields nullable: old generations
        # fill added columns with defaults/NULL.
        entries = SnapshotTable(self.options["path"]).versions()
        if entries and "schema_id" in entries[-1]:
            from pyspark.sql import types as T

            from iceberg_evolve_spark.serializer import schema_from_json
            from iceberg_evolve_spark.spark_convert import struct_to_spark

            head = entries[-1]
            struct, _sid = schema_from_json(
                head["schemas"][str(head["schema_id"])]
            )
            st = struct_to_spark(struct)
            return T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in st.fields]
            )
        return _table_ddl(self.options["path"])

    def streamReader(self, schema) -> SnapshotStreamReader:  # noqa: ANN001
        return SnapshotStreamReader(self.options, schema)
