"""``Schema``: the user-facing wrapper + the ``evolve()`` driver.

Reference surface: ``iceberg_evolve/schema.py`` — loaders (``from_file``
``schema.py:97-111``, ``from_s3`` ``:132-150``, ``from_iceberg`` ``:113-130``) and the
end-to-end ``evolve()`` control flow (``schema.py:152-283``): diff → gate → 3-phase
apply (renames / adds+updates+drops / moves) with a schema re-fetch between phases.

The reference README advertises ``Schema.from_json_file`` and ``SchemaDiff(old, new)``
which don't exist there (doc drift, ``SURVEY.md §3.3``) — we provide ``from_json_file``
as a real alias so both spellings work.
"""

from __future__ import annotations

import json
import warnings
from typing import TYPE_CHECKING, Any

from iceberg_evolve_spark.diff import SchemaDiff
from iceberg_evolve_spark.exceptions import (
    CatalogLoadError,
    SchemaParseError,
    UnsupportedSchemaEvolutionWarning,
)
from iceberg_evolve_spark.model import Field, StructType
from iceberg_evolve_spark.serializer import schema_from_json, schema_to_json

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

    from iceberg_evolve_spark.operators.executor import EvolutionExecutor


class Schema:
    """A schema value: an ID'd struct plus its Iceberg ``schema-id``."""

    def __init__(self, struct: StructType, schema_id: int = 0) -> None:
        self.struct = struct
        self.schema_id = schema_id

    # ------------------------------------------------------------------
    # Loaders (S1–S4)
    # ------------------------------------------------------------------

    @classmethod
    def from_json(cls, data: dict[str, Any], source: str = "<dict>") -> Schema:
        struct, schema_id = schema_from_json(data, source)
        return cls(struct, schema_id)

    @classmethod
    def from_file(cls, path: str) -> Schema:
        """Load from a local Iceberg-metadata-JSON file (reference S1)."""
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError) as exc:
            raise SchemaParseError(path, str(exc)) from exc
        return cls.from_json(data, source=path)

    # README-advertised alias (reference doc drift, SURVEY.md §3.3)
    from_json_file = from_file

    @classmethod
    def from_s3(cls, bucket: str, key: str, *, resource_factory=None) -> Schema:
        """Load from S3 via boto3 (reference S2). boto3 is an optional
        dependency. ``resource_factory`` (``lambda: <s3 resource>``) injects a
        client for tests or custom credential plumbing — no interpreter-global
        module swapping required."""
        if resource_factory is None:
            try:
                import boto3  # noqa: PLC0415
            except ImportError as exc:  # pragma: no cover
                raise SchemaParseError(
                    f"s3://{bucket}/{key}", "boto3 is not installed"
                ) from exc
            resource_factory = lambda: boto3.resource("s3")  # noqa: E731
        try:
            body = resource_factory().Object(bucket, key).get()["Body"].read()
            data = json.loads(body)
        except Exception as exc:
            raise SchemaParseError(f"s3://{bucket}/{key}", str(exc)) from exc
        return cls.from_json(data, source=f"s3://{bucket}/{key}")

    @classmethod
    def from_spark_table(cls, spark: "SparkSession", table: str) -> Schema:
        """Load a live table's schema through Spark's catalog (reference S3 analog:
        ``spark.table(t).schema`` instead of PyIceberg ``load_catalog``)."""
        from iceberg_evolve_spark.spark_convert import struct_from_spark

        try:
            spark_schema = spark.table(table).schema
        except Exception as exc:
            raise CatalogLoadError(table, "spark", str(exc)) from exc
        return cls(struct_from_spark(spark_schema))

    @classmethod
    def from_spark_struct(cls, spark_schema) -> Schema:
        from iceberg_evolve_spark.spark_convert import struct_from_spark

        return cls(struct_from_spark(spark_schema))

    # ------------------------------------------------------------------
    # Views
    # ------------------------------------------------------------------

    @property
    def fields(self) -> tuple[Field, ...]:
        return self.struct.fields

    def to_json(self) -> dict[str, Any]:
        return schema_to_json(self.struct, self.schema_id)

    def to_file(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.to_json(), fh, indent=4)

    def to_spark_struct(self):
        from iceberg_evolve_spark.spark_convert import struct_to_spark

        return struct_to_spark(self.struct)

    def diff(
        self,
        new: Schema,
        *,
        match_by: str = "id",
        include_required_changes: bool = False,
    ) -> SchemaDiff:
        if match_by == "id":
            return SchemaDiff.from_schemas(
                self.struct,
                new.struct,
                include_required_changes=include_required_changes,
            )
        if match_by == "name":
            return SchemaDiff.union_by_name(self.struct, new.struct)
        raise ValueError(f"match_by must be 'id' or 'name', got {match_by!r}")

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Schema) and self.struct == other.struct

    def __repr__(self) -> str:
        return f"Schema(fields={len(self.struct.fields)}, schema_id={self.schema_id})"

    # ------------------------------------------------------------------
    # evolve() — the X1 executor driver (reference schema.py:152-283)
    # ------------------------------------------------------------------

    def evolve(
        self,
        new: Schema,
        executor: "EvolutionExecutor",
        *,
        dry_run: bool = False,
        quiet: bool = False,
        strict: bool = True,
        allow_breaking: bool = False,
        match_by: str = "id",
        include_required_changes: bool = False,
        return_applied_schema: bool = False,
    ) -> "Schema | list":
        """Diff ``self`` → ``new``, gate, then apply in three phases.

        Phases (reference ``schema.py:233-272``): ① renames ② adds/updates/drops
        ③ moves, with ``executor.refresh()`` between phases so phase N+1 resolves
        names produced by phase N. Gates: strict mode rejects unsupported ops
        (``schema.py:215-224``); breaking ops are rejected unless ``allow_breaking``
        (``schema.py:226-231``); ``dry_run`` returns the planned ops without applying.
        """
        from iceberg_evolve_spark.operators.evolution import (
            AddColumn,
            DropColumn,
            MoveColumn,
            RenameColumn,
            SetNullability,
            UpdateColumn,
        )

        diff = self.diff(
            new,
            match_by=match_by,
            include_required_changes=include_required_changes,
        )
        ops = diff.to_evolution_operations()

        if not quiet:
            for op in ops:
                op.display()

        if dry_run:
            return ops

        ops = gate_operations(ops, strict=strict, allow_breaking=allow_breaking)

        phase1 = [op for op in ops if isinstance(op, RenameColumn)]
        phase2 = [
            op
            for op in ops
            if isinstance(op, (AddColumn, UpdateColumn, DropColumn, SetNullability))
        ]
        phase3 = [op for op in ops if isinstance(op, MoveColumn)]

        for phase in (phase1, phase2, phase3):
            if phase:
                executor.apply(phase)
                executor.refresh()

        if return_applied_schema:
            applied = executor.current_schema()
            if applied is not None:
                return applied
        return ops


def gate_operations(ops: list, *, strict: bool = True, allow_breaking: bool = False) -> list:
    """The evolve gate shared by :meth:`Schema.evolve` and
    ``SnapshotTable.evolve_schema``. Unsupported ops raise under ``strict``
    (reference ``schema.py:215-224``) and are warned about and skipped
    otherwise; breaking ops raise unless ``allow_breaking``
    (``schema.py:226-231``). Returns the ops to apply."""
    unsupported = [op for op in ops if not op.is_supported]
    if unsupported:
        if strict:
            raise ValueError(
                "Unsupported operations present (strict mode): "
                + ", ".join(op.pretty() for op in unsupported)
            )
        for op in unsupported:
            warnings.warn(
                f"Skipping unsupported operation: {op.pretty()}",
                UnsupportedSchemaEvolutionWarning,
                stacklevel=3,
            )
        ops = [op for op in ops if op.is_supported]

    breaking = [op for op in ops if op.is_breaking()]
    if breaking and not allow_breaking:
        raise ValueError(
            "Breaking operations present (pass allow_breaking=True to apply): "
            + ", ".join(op.pretty() for op in breaking)
        )
    return ops
