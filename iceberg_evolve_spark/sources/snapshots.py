"""Snapshot / time-travel table layer over plain parquet — the Iceberg
metadata ideas (immutable snapshots, a manifest as the single source of truth,
time travel, logical rollback) implemented on a directory, so the concepts the
schema-evolution engine targets (reference: iceberg-evolve operates on Iceberg
tables' snapshot metadata) are runnable here without a table-format jar.

Layout (manifest lists — round 10; commit-file log plane — round 12)::

    table_dir/
      v00001/           # lineage data dir: base files + appended s{seq}-*
      d00001/           # delete files (Iceberg v2 merge-on-read row deletes)
      m00001.json       # per-commit manifest: the files that commit ADDED
      m00003.json
      c00002.commit.json  # ONE snapshot entry: an atomically-linked commit
      _snapshots.json   # CHECKPOINT: the log folded up to some version

The snapshot log is the checkpoint's entries plus the contiguous run of
``c{version}.commit.json`` files ABOVE the checkpoint head. Each commit file
is published with ``os.link`` (write a private tmp, hard-link it to the
versioned name): the link succeeds for EXACTLY ONE writer per version —
a true compare-and-swap with no lock file, no steal heuristic, and no
paused-writer hazard (a writer that stalls for an hour between reading the
log and publishing simply loses the link race and recomputes; it can never
clobber a committed entry, because nothing ever REPLACES a commit file).
This is the catalog-CAS real Iceberg gets from its catalog, realized with
filesystem semantics only (valid wherever link/rename are atomic — POSIX
and HDFS; object stores want the same protocol over a conditional PUT).
Retention (:meth:`SnapshotTable.expire_snapshots`) folds the commit tail
into the checkpoint; commit files at/below the checkpoint head are inert
and swept.

Disciplines (the same ones real table formats automate):

* **Data FILES are immutable; visibility is by manifest list.** A snapshot
  entry carries a list of manifest files; each manifest lists the data files
  one commit added (paths relative to the lineage dir). A fast append writes
  its new files into the lineage dir plus ONE new manifest — O(new files),
  never O(table files). Readers assemble a snapshot's file list from its
  manifests and scan exactly those files, so uncommitted files in the dir
  (crash orphans) are invisible — Iceberg's shared ``data/`` prefix model.
* **The commit file is the commit point.** Data files land first (stage
  write + per-file atomic rename), then the manifest file (atomic link),
  and only then is the entry published as ``c{version}.commit.json`` by
  the ``os.link`` compare-and-swap above. A crash at any step leaves either
  no commit file (new files are unreferenced orphans, reclaimed by
  retention's sweep) or a complete one (commit done); a writer that loses
  the link race rebuilds against the fresh log, so concurrent committers
  need no lock. Retention folds the tail into the ``_snapshots.json``
  checkpoint (write-temp + ``os.replace``) and only then sweeps the commit
  files it covers — a crash in between leaves inert duplicates the tail
  read ignores. No torn state is observable.
* **Rollback is logical.** Rolling back appends a new entry pointing at the
  old version's manifest list (stamped ``rollback_of`` so changelog scans
  can refuse ambiguous ranges) — history is preserved and the rollback is
  itself a snapshot, exactly like Iceberg's ``rollback_to_snapshot``.
* **Row deletes can be DELETION VECTORS (Iceberg v3).** ``delete_where(
  vector=True)`` maintains AT MOST ONE merged positional structure per
  snapshot — a parquet sidecar holding, per data file, the SORTED array of
  deleted row positions (parquet's delta encoding + compression is the
  bitmap; Iceberg v3 serializes roaring bitmaps into Puffin files for the
  same reason). Each vector delete UNIONS with the previous vector and
  supersedes it, so K vector deletes leave ONE small file to read.
  Superseded vectors stay on disk for time travel until retention
  reclaims them.
* **Deletes are applied once per KIND, not once per file.**
  ``SnapshotTable._apply_deletes`` turns a delete stack into joins for
  reads (anti), the delete fold and the changelog (semi): positional files
  and the vector form ONE ``(_file, _pos)`` side, equality files one side
  per key-column tuple. Delete dirs are read under their footer's schema.
* **Two entry builders.** Every commit on the current lineage builds its
  entry with ``SnapshotTable._successor`` (which decides what it inherits
  from the head); ``write`` and the overwrite ``publish`` build a fresh
  lineage's entry with ``SnapshotTable._new_lineage``.
* **Compaction is scoped.** ``rewrite_data_files`` rewrites ONLY the files
  referenced by delete files (positional deletes name their files; equality
  deletes scope by key-column bound overlap, conservative on unknowns) plus
  optionally sub-threshold small files — untouched files are carried BY
  LIST, byte-identical. Real Iceberg's ``rewrite_data_files`` binpacks only
  affected file groups for the same reason: a whole-table rewrite per fold
  is O(table) recurring work at streaming cadence (VERDICT r9 "What's
  wrong" 2). ``scope="all"`` keeps the full rewrite for layout changes.

At 100 TB the only thing that changes is WHERE the bytes live (object store;
rename becomes copy, so staged files are written directly to their final
unique names — uniqueness makes it safe) — the manifest commit protocol is
identical, and every commit stays O(files touched by that commit).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from iceberg_evolve_spark.sources.footer_stats import (
    _to_comparable,
    parquet_files,
    prune_files_multi,
    read_dir_footer,
    read_footer,
)

MANIFEST = "_snapshots.json"


class CommitConflict(RuntimeError):
    """Another writer advanced the snapshot log under this commit and the
    change cannot be (or must not be) rebased onto the new head."""


class _LinkRaced(Exception):
    """Internal: the per-version commit-file link lost its race (another
    writer published this version first, or a checkpoint already covers
    it). Retryable — :meth:`SnapshotTable._commit_build` rebuilds against
    the fresh log; non-rebasing callers convert it to CommitConflict."""


def delete_stack_keys(entry: dict) -> "set[str]":
    """Structural identity of an entry's delete stack (one canonical JSON
    string per delete descriptor). The ONE shared definition for every
    stack comparison (commit composability, cherry-pick, the streaming
    tail) — counting deletes is not enough: a merged deletion vector
    REPLACES the prior dv entry ([dv] -> [dv'], same length, manifests
    unchanged), which a length compare misclassifies as a plain append."""
    return {json.dumps(d, sort_keys=True) for d in entry.get("deletes", [])}

#: A delete join side (the delete files of one kind) at/below this on-disk
#: size is force-broadcast in the merge-on-read joins (KB-scale CDC deletes:
#: keeps the scan a single pass with no shuffle). Bigger sides — the
#: mass-delete/retention shape — leave the join strategy to AQE, which
#: picks sort-merge or its own runtime broadcast from MEASURED sizes. An
#: unconditional broadcast here is the same class of scale bug as the r7
#: bigram-surprisal score table (measured 13.4× at 10× data before that
#: fix); Iceberg's own reader guards its delete-file broadcasts the same way.
BROADCAST_DELETE_MAX_BYTES = 32 << 20

#: Files below this size are binpacked when ``rewrite_data_files`` runs with
#: ``small_file_bytes`` unset from :meth:`SnapshotTable.maintain`'s
#: commit-count trigger — the small-file fold a streaming append cadence
#: needs. Analogous to Iceberg's min-input-file binpack threshold.
SMALL_FILE_COMPACT_BYTES = 32 << 20

#: Helper column names the merge-on-read reader adds to carry parquet row
#: positions. User tables may not use them (the positional anti-join keys on
#: them; a collision would silently join on the wrong column).
_RESERVED_COLS = ("_file", "_pos", "_seq")

#: Columns a positional / vector delete file must hold (an equality delete
#: must hold its ``cols``), checked by the footer peek before any read.
_DELETE_COLS = {"pos": ("_file", "_pos"), "dv": ("_file", "positions", "card")}

#: Appended data files carry their commit's data sequence number in the file
#: name (``s00042-part-...parquet``); base files have no prefix and inherit
#: the lineage base sequence. One regex, shared by the reader and the
#: metadata table.
_SEQ_RE = re.compile(r"(?:^|/)s(\d{5})-[^/]*$")


def _dir_bytes(path: str) -> int:
    """Total file bytes under ``path`` (driver-side; delete dirs are small
    relative to data, and this is one listdir per delete file set)."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for fn in names:
            if not fn.startswith("_") and not fn.startswith("."):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def _parquet_dir_rows(path: str) -> int:
    """Row count of a written parquet dir from footers only (no Spark job,
    no re-read): one KB-scale footer read per part file, driver-side."""
    return read_dir_footer(path, ())[0]


def _parquet_files_rows(files: "list[str]") -> int:
    """Row count of an explicit parquet file list from footers only —
    the metadata-sized count for a planned scan (e.g. ``plan_scan()``'s
    kept set on a delete-free snapshot)."""
    return sum(read_footer(f, ())[0] for f in files)


def _staged_schema(staged: str):
    """Arrow schema of a staged parquet dir, from its first file's footer."""
    import pyarrow.parquet as pq

    return pq.read_schema(os.path.join(staged, parquet_files(staged)[0]))


def _rel_seq(rel: str, base_seq: int) -> int:
    """Data sequence number of a file from its name (see ``_SEQ_RE``)."""
    m = _SEQ_RE.search(rel)
    return int(m.group(1)) if m else base_seq


def _apply_sort_order(
    df: DataFrame, sort_by: list[str] | None, n_files: int | None = None
) -> DataFrame:
    """Cluster rows on the table's sort-order columns before a write:
    range-repartition (files end up covering DISJOINT value ranges, not
    just internally sorted ones) + in-task sort (tight row-group stats).
    This is what makes footer-stats pruning selective — without clustering
    every file's [min, max] spans the whole domain and ``plan_scan`` can
    prove nothing absent. No-op when the lineage has no sort order.

    ``n_files`` pins the range-partition count (an explicit count disables
    AQE's partition coalescing for this shuffle — the file-granularity
    knob, Iceberg's target-file-size in partition-count clothes); default
    lets AQE size output files from measured bytes."""
    if not sort_by:
        return df
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sort_by]
    if n_files is not None:
        df = df.repartitionByRange(n_files, *cols)
    else:
        df = df.repartitionByRange(*cols)
    return df.sortWithinPartitions(*cols)


class SnapshotTable:
    """A versioned parquet table rooted at ``path``.

    ``branch`` binds the handle to a WRITABLE BRANCH (see
    :meth:`create_branch`) instead of ``main``: reads, commits, time
    travel, changelogs, and metadata tables all operate on the branch's
    own snapshot log while sharing the table's immutable data files."""

    def __init__(self, path: str, branch: str | None = None) -> None:
        self.path = path.rstrip("/")
        self.branch = branch
        os.makedirs(self.path, exist_ok=True)

    # -- snapshot log --------------------------------------------------------
    def _manifest_path(self) -> str:
        if self.branch:
            return os.path.join(
                self.path, f"_snapshots_{self.branch}.json"
            )
        return os.path.join(self.path, MANIFEST)

    def _commit_file(self, version: int) -> str:
        suffix = f"-{self.branch}" if self.branch else ""
        return os.path.join(
            self.path, f"c{version:05d}{suffix}.commit.json"
        )

    def _commit_file_re(self) -> "re.Pattern[str]":
        """Matches THIS scope's commit-file names (main files never match
        a branch scope and vice versa)."""
        suffix = f"-{re.escape(self.branch)}" if self.branch else ""
        return re.compile(rf"c(\d{{5}}){suffix}\.commit\.json")

    def _checkpoint_entries(self) -> list[dict]:
        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return []

    def _checkpoint_head(self) -> int:
        ck = self._checkpoint_entries()
        return int(ck[-1]["version"]) if ck else 0

    def versions(self) -> list[dict]:
        """Ordered snapshot entries: ``{version, data_dir, manifests, ts,
        note, ...}``. Assembled from the checkpoint plus the contiguous commit-file tail above its head
        (see module docstring) — O(tail) KB-scale JSON reads; retention
        folds the tail back into the checkpoint."""
        entries = self._checkpoint_entries()
        v = (int(entries[-1]["version"]) if entries else 0) + 1
        while True:
            try:
                with open(self._commit_file(v)) as fh:
                    entries.append(json.load(fh))
            except FileNotFoundError:
                return entries
            v += 1

    def _link_commit(self, entry: dict) -> None:
        """Publish ``entry`` as its version's commit file — the atomic CAS.
        ``os.link`` onto the versioned name succeeds for exactly one writer
        (the tmp is complete before the link, so a visible commit file is
        never torn); a loser raises :class:`_LinkRaced` and rebuilds. The
        post-link checkpoint check closes the one residual race: a
        retention run folding the log and sweeping old commit files between
        this writer's read and its link could otherwise let a re-created
        commit file sit invisibly at/below the checkpoint head."""
        v = int(entry["version"])
        final = self._commit_file(v)
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(entry, fh, indent=1)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise _LinkRaced(f"v{v} already committed") from None
        finally:
            os.unlink(tmp)
        if self._checkpoint_head() >= v:
            # a checkpoint already covers this version: our entry would be
            # invisible (versions() reads the tail strictly above the
            # checkpoint head). Withdraw and retry against the fresh log.
            try:
                os.unlink(final)
            except FileNotFoundError:
                pass
            raise _LinkRaced(f"checkpoint advanced past v{v}")

    def _commit(self, entries: list[dict], expected_head: int) -> None:
        """COMPARE-AND-SWAP append of ``entries`` to the snapshot log.
        ``expected_head`` is the head version the caller read before
        building its change (0 = empty log); every entry past it is
        published as an atomically-linked commit file, so a concurrent
        writer makes the first link fail and :class:`CommitConflict` is
        raised — nothing committed is ever replaced."""
        cur = self.versions()
        head = cur[-1]["version"] if cur else 0
        if head != expected_head:
            raise CommitConflict(
                f"snapshot log advanced to v{head} (expected "
                f"v{expected_head}) under this commit"
            )
        to_add = [e for e in entries if e["version"] > expected_head]
        for e in to_add:
            try:
                self._link_commit(e)
            except _LinkRaced:
                raise CommitConflict(
                    f"snapshot log advanced past v{expected_head} under "
                    "this commit"
                ) from None

    def _install_checkpoint(self, entries: list[dict]) -> None:
        """Fold ``entries`` (the retained log, head unchanged) into the
        checkpoint file and sweep the commit files it covers. Commits
        racing this fold land ABOVE the head and survive untouched — the
        checkpoint never shadows a version it does not contain. Commit
        files are swept only AFTER the checkpoint lands, so a crash leaves
        harmless duplicates (the tail read ignores versions at/below the
        checkpoint head)."""
        head = int(entries[-1]["version"]) if entries else 0
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(entries, fh, indent=1)
        os.replace(tmp, self._manifest_path())
        cre = self._commit_file_re()
        for name in os.listdir(self.path):
            m = cre.fullmatch(name)
            if m and int(m.group(1)) <= head:
                try:
                    os.unlink(os.path.join(self.path, name))
                except FileNotFoundError:
                    pass

    def _commit_build(self, build) -> int:
        """Run ``build(fresh_entries) -> new_entry`` against the freshest
        log and publish its entry as the next commit file. A lost link
        race re-runs the builder against the re-read log (version numbers,
        manifest names, and sequence restamps all recompute), so a
        concurrent writer can delay this commit but never clobber it —
        and, symmetrically, this writer can stall for ANY length between
        build and publish without endangering anyone else's commit (no
        lock to go stale, nothing is replaced). Semantic
        incompatibilities surface as :class:`CommitConflict` from the
        builder's own validation (see :meth:`_composable_head`). The
        payload (data files, delete files) is written BEFORE this loop —
        only KB-scale metadata work happens inside it."""
        for _ in range(256):
            fresh = self.versions()
            new_entry = build(fresh)
            if new_entry is None:
                # builder resolved to a no-op against the fresh head
                # (e.g. a cherry-pick whose payload main already carries)
                return int(fresh[-1]["version"]) if fresh else 0
            try:
                self._link_commit(new_entry)
            except _LinkRaced:
                continue
            return int(new_entry["version"])
        raise CommitConflict(
            "commit lost the publish race 256 times in a row — giving up"
        )

    @staticmethod
    def _composable_head(
        fresh: list[dict], cur: dict, allow_fold: bool
    ) -> dict:
        """The freshest head, validated as a plain append/delete-commit
        descendant of ``cur`` (the snapshot this writer's payload was
        computed against) in the same lineage — the precondition for
        committing on top of a head another writer moved. Overwrites,
        rollbacks, and compaction rewrites in between raise
        :class:`CommitConflict` (the payload references replaced state);
        delete-stack folds are transparent to appends (``allow_fold``)
        but conflict with delete commits, whose vector merges were
        computed against the pre-fold stack."""
        if not fresh:
            raise CommitConflict("snapshot log vanished under the commit")
        head = fresh[-1]
        if head["version"] == cur["version"]:
            return head  # fast path: nothing moved
        cm = set(cur["manifests"])
        hm = set(head["manifests"])
        conflicting = any(
            e.get("rollback_of") is not None
            or e.get("rewrite")
            or (e.get("delete_rewrite") and not allow_fold)
            # a schema evolution between the payload's read and its commit:
            # the payload (appended files, delete keys, or a competing
            # evolve's diff) was produced under the OLD schema — stamping
            # it with the new head's schema id would mis-project it
            or e.get("schema_evolution")
            for e in fresh
            if e["version"] > cur["version"]
        )
        if (
            head.get("data_dir") != cur.get("data_dir")
            or not cm <= hm
            or conflicting
        ):
            raise CommitConflict(
                "concurrent overwrite/rollback/rewrite commit — this "
                "change was computed against replaced table state; "
                "re-read and retry against the new head"
            )
        return head

    # -- manifest files (per-commit added-file lists) ------------------------
    def _write_manifest_file(
        self, version: int, rel_files: list[str], suffix: str = ""
    ) -> str:
        """Write ``m{version}{suffix}.json`` listing one commit's data files
        (paths relative to the lineage dir). Published by atomic LINK, never
        replace: with the lock-free commit plane two writers can both stage
        a manifest for the same target version, and an overwrite would
        corrupt whichever one wins the commit race — on a name collision
        (concurrent writer, or a crashed retry's orphan) this takes a
        uuid-suffixed name instead; the unreferenced orphan is swept by
        retention. Branch commits scope the name (``m00002-audit.json``): a
        diverged main committing the same version number must never clobber
        the branch's manifest, and vice versa."""
        if self.branch:
            suffix = f"-{self.branch}{suffix}"
        name = f"m{version:05d}{suffix}.json"
        tmp = os.path.join(
            self.path, f"{name}.tmp-{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w") as fh:
            json.dump({"files": sorted(rel_files)}, fh, indent=1)
        try:
            os.link(tmp, os.path.join(self.path, name))
        except FileExistsError:
            name = f"m{version:05d}{suffix}-{uuid.uuid4().hex[:8]}.json"
            os.link(tmp, os.path.join(self.path, name))
        finally:
            os.unlink(tmp)
        return name

    def _entry_files(self, entry: dict) -> list[str]:
        """Data files of a snapshot (relative to its lineage dir),
        assembled from its manifest list — O(#manifests + #files) metadata
        reads, never a directory walk of shared storage."""
        out: list[str] = []
        for mname in entry["manifests"]:
            with open(os.path.join(self.path, mname)) as fh:
                out.extend(json.load(fh)["files"])
        return out

    def _entry_abs_files(self, entry: dict) -> list[str]:
        dd = os.path.join(self.path, entry["data_dir"])
        return [os.path.join(dd, rel) for rel in self._entry_files(entry)]

    # -- per-snapshot schema tracking (round 12) ------------------------------
    #
    # A schema-tracked lineage records, per snapshot entry:
    #
    # * ``schema_id``   — the CURRENT schema's id;
    # * ``schemas``     — {id: schema JSON (with Iceberg field ids)} for
    #   every generation any retained manifest still needs;
    # * ``manifest_schemas`` — {manifest name: schema id} mapping each
    #   commit's files to the schema they were WRITTEN under.
    #
    # :meth:`evolve_schema` is then a METADATA-ONLY commit (the reference's
    # entire purpose — iceberg_evolve/schema.py:152-283 evolves a live
    # table by catalog DDL, never rewriting data): the new entry carries
    # the same manifests, deletes and data_dir, only the schema keys move.
    # Reads resolve every file generation by FIELD ID against the entry's
    # current schema (operators/migrate_df.py:union_by_field_id — a pure
    # projection per generation, no shuffle), so a 100 TB table evolves in
    # one KB-scale commit and reads at full speed across generations.

    @staticmethod
    def _successor(
        head: dict, version: int, note: str, ts: float | None, **changes
    ) -> dict:
        """THE entry builder of every commit that stays on ``head``'s
        lineage (evolve, rollback, row delta, delete fold, scoped
        compaction, cherry-pick). The new entry inherits ``head``'s
        data_dir, manifests, base sequence, ``has_appends``,
        ``partition_by``, ``sort_by``, ``deletes`` and schema tracking;
        ``changes`` overrides any key, and a falsy change drops it (an
        entry records flags and lists only when set). Schema tracking is
        re-derived for the final manifest list: known manifests keep their
        recorded generation, new ones take the entry's current id."""
        entry = {
            "version": version,
            "data_dir": head["data_dir"],
            "manifests": list(head["manifests"]),
            "base_seq": head.get("base_seq", head["version"]),
            "ts": time.time() if ts is None else ts,
            "note": note,
        }
        for prop in ("has_appends", "partition_by", "sort_by", "deletes"):
            if head.get(prop):
                v = head[prop]
                entry[prop] = list(v) if isinstance(v, list) else v
        for key, v in changes.items():
            if v:
                entry[key] = v
            else:
                entry.pop(key, None)
        if "schema_id" in head:
            sid = entry.setdefault("schema_id", head["schema_id"])
            entry.setdefault("schemas", dict(head["schemas"]))
            known = entry.get("manifest_schemas") or head.get(
                "manifest_schemas", {}
            )
            entry["manifest_schemas"] = {
                m: known.get(m, sid) for m in entry["manifests"]
            }
        return entry

    def _entry_schema(self, entry: dict):
        """The entry's current tracked schema as a :class:`Schema`, or None
        for untracked lineages."""
        if "schema_id" not in entry:
            return None
        from iceberg_evolve_spark.schema import Schema

        return Schema.from_json(
            entry["schemas"][str(entry["schema_id"])], source="<snapshot>"
        )

    def _rel_schema_map(self, entry: dict) -> "dict[str, int] | None":
        """{lineage-relative data file: schema id it was written under} for
        a schema-tracked entry — assembled from the manifest lists (KB of
        JSON), None when untracked or single-generation (the fast path:
        no projection machinery on the scan)."""
        ms = entry.get("manifest_schemas")
        if not ms or set(ms.values()) == {entry["schema_id"]}:
            # fast path: every file is already the CURRENT generation —
            # no projection machinery on the scan
            return None
        out: dict[str, int] = {}
        for mname in entry["manifests"]:
            sid = ms[mname]
            with open(os.path.join(self.path, mname)) as fh:
                for rel in json.load(fh)["files"]:
                    out[rel] = sid
        return out

    def table_schema(self):
        """Current tracked schema of the head snapshot (None if the
        lineage is not schema-tracked)."""
        entries = self.versions()
        return self._entry_schema(entries[-1]) if entries else None

    def _check_append_schema(self, entry: dict, df: DataFrame) -> None:
        """Explicit refusal of silent drift on a schema-tracked lineage:
        an appended batch must match the CURRENT tracked schema by name
        AND type — either evolve the table first (metadata-only) or
        project the batch (operators/migrate_df.py) to the current
        schema. Untracked lineages keep the legacy anything-goes
        behavior."""
        if "schema_id" not in entry:
            return
        schema = self._entry_schema(entry)
        expect = {
            f.name: str(f.dataType) for f in schema.to_spark_struct().fields
        }
        got = {f.name: str(f.dataType) for f in df.schema.fields}
        if got != expect:
            drift = sorted(
                set(expect.items()) ^ set(got.items()),
                key=lambda kv: kv[0],
            )
            raise ValueError(
                "append schema drifts from the tracked table schema "
                f"(mismatches: {drift}) — run evolve_schema() first, or "
                "project the batch with migrate_dataframe()"
            )

    def _union_generations(
        self,
        spark: SparkSession,
        entry: dict,
        files: list[str],
        data_dir: str,
        rel_sids: "dict[str, int]",
        prep=None,
    ) -> DataFrame:
        """SCHEMA-ON-READ across generations: group the scanned files by
        the schema they were written under, project every group to the
        entry's CURRENT schema by FIELD ID (renames resolve, widened types
        cast, added columns fill with their default/NULL — see
        operators/migrate_df.py), and union positionally. Each group is
        one narrow map stage fused into its scan — zero shuffles, so a
        100 TB read across five schema generations costs what a
        single-generation read does. ``prep`` (optional) runs on each raw
        group scan BEFORE projection — the merge-on-read reader injects
        its ``_file``/``_pos`` helper derivation there, because Spark's
        ``_metadata`` pseudo-column resolves only on the scan relation."""
        from pyspark.sql import functions as F

        from iceberg_evolve_spark.operators.migrate_df import (
            migration_columns,
        )
        from iceberg_evolve_spark.serializer import schema_from_json

        cur_sid = int(entry["schema_id"])
        cur_struct, _ = schema_from_json(entry["schemas"][str(cur_sid)])
        groups: dict[int, list[str]] = {}
        for f in files:
            rel = os.path.relpath(f, data_dir)
            groups.setdefault(rel_sids.get(rel, cur_sid), []).append(f)
        parts = []
        for sid in sorted(groups):
            sdf = spark.read.option("basePath", data_dir).parquet(
                *groups[sid]
            )
            extras = []
            if prep is not None:
                before = set(sdf.columns)
                sdf = prep(sdf)
                extras = [c for c in sdf.columns if c not in before]
            gen_struct, _ = schema_from_json(entry["schemas"][str(sid)])
            parts.append(
                sdf.select(
                    *migration_columns(gen_struct, cur_struct),
                    *[F.col(c) for c in extras],
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _base_scan(
        self, spark: SparkSession, entry: dict, files: list[str]
    ) -> DataFrame:
        """Delete-free scan of an explicit file list, generation-aware for
        schema-tracked lineages (see :meth:`_union_generations`)."""
        data_dir = os.path.join(self.path, entry["data_dir"])
        rel_sids = self._rel_schema_map(entry)
        if rel_sids is not None:
            return self._union_generations(
                spark, entry, files, data_dir, rel_sids
            )
        return spark.read.option("basePath", data_dir).parquet(*files)

    def _gate_schema_change(self, head: dict, ops: list) -> None:
        """Storage-plane legality of an evolution against ``head``.
        PARTITION columns are bound to the physical directory layout
        (key=value path segments carry the NAME), so renaming, dropping,
        or retyping one cannot be metadata-only. SORT columns are softer:
        a rename just re-points the recorded sort order (the new entry
        rewrites ``sort_by`` — see evolve_schema) and a widening keeps
        footer-stats pruning valid, but DROPPING one would silently stop
        clustering future appends — refused. Live equality-delete key
        columns are bound to their recorded names until a compaction
        folds the delete away."""
        from iceberg_evolve_spark.operators.evolution import (
            DropColumn,
            RenameColumn,
            UpdateColumn,
        )

        part = set(head.get("partition_by", []))
        sort = set(head.get("sort_by", []))
        eq_cols = {
            c
            for d in head.get("deletes", [])
            if d.get("kind") == "eq"
            for c in d.get("cols", [])
        }
        for op in ops:
            if not isinstance(op, (RenameColumn, DropColumn, UpdateColumn)):
                continue
            name = op.name.split(".", 1)[0]
            if name in part:
                raise ValueError(
                    f"column {name!r} is a partition column of the "
                    "current lineage — the key=value directory layout is "
                    "bound to the name; rewrite the table (write()) to "
                    "change it"
                )
            if name in sort and isinstance(op, DropColumn):
                raise ValueError(
                    f"column {name!r} is a sort column of the current "
                    "lineage — dropping it would silently stop "
                    "clustering appends; clear the sort order first "
                    "(rewrite) or keep the column"
                )
            if name in eq_cols:
                raise CommitConflict(
                    f"column {name!r} is named by a live equality-delete "
                    "file — compact first (rewrite_data_files) so the "
                    "delete keys fold away, then evolve"
                )

    def evolve_schema(
        self,
        new_schema,
        *,
        allow_breaking: bool = False,
        match_by: str = "id",
        note: str | None = None,
        ts: float | None = None,
    ):
        """EVOLVE the table's schema as one METADATA-ONLY commit — no data
        file is read, rewritten, or even listed (the reference's core
        operation, iceberg_evolve/schema.py:152-283, composed with this
        storage plane). The diff/gating semantics are the parity layer's
        (:meth:`iceberg_evolve_spark.schema.Schema.evolve`): unsupported
        ops raise, breaking ops need ``allow_breaking=True``; on top of
        that, storage-plane bindings (partition/sort columns, live equality-
        delete keys) refuse changes that cannot be metadata-only. Reads of
        the new head resolve OLD file generations by field id
        automatically; time-travel reads of old versions use their own
        recorded schema. Returns the new version number."""
        from iceberg_evolve_spark.schema import gate_operations
        from iceberg_evolve_spark.serializer import schema_to_json

        entries = self.versions()
        if not entries:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        cur = entries[-1]
        cur_schema = self._entry_schema(cur)
        if cur_schema is None:
            raise ValueError(
                "lineage is not schema-tracked — bootstrap with "
                "write(df, schema=...) or write(df, track_schema=True)"
            )
        if match_by != "id":
            # generation resolution at read time is BY FIELD ID; a
            # name-matched evolution gives no id-continuity guarantee, so
            # a "renamed" field whose id changed would read as drop+add
            # and silently NULL historical data. Derive the new schema
            # from table_schema().to_json() (ids preserved) instead.
            raise NotImplementedError(
                "evolve_schema resolves historical generations by field "
                "id — match_by='name' cannot guarantee id continuity; "
                "use match_by='id' with ids carried from table_schema()"
            )
        diff = cur_schema.diff(new_schema, match_by=match_by)
        ops = diff.to_evolution_operations()
        if not ops:
            return cur["version"]  # no-op: no empty commits
        gate_operations(ops, allow_breaking=allow_breaking)
        self._gate_schema_change(cur, ops)

        def _ids(node) -> "list[int]":
            # every field/element/key/value id in a schema JSON tree
            out = []
            if isinstance(node, dict):
                for k, v in node.items():
                    if k in ("id", "element-id", "key-id", "value-id"):
                        out.append(int(v))
                    else:
                        out.extend(_ids(v))
            elif isinstance(node, list):
                for v in node:
                    out.extend(_ids(v))
            return out

        new_json = schema_to_json(new_schema.struct, 0)
        new_ids = _ids(new_json)
        if len(new_ids) != len(set(new_ids)):
            raise ValueError("new schema reuses a field id within itself")
        # Iceberg's no-id-reuse rule: an ADDED field must take a FRESH id —
        # reusing a dropped field's id would resurrect that field's
        # historical data under the new name at read time
        cur_ids = set(_ids(schema_to_json(cur_schema.struct, 0)))
        historical = set()
        for sj in cur.get("schemas", {}).values():
            historical.update(_ids(sj))
        revived = (set(new_ids) - cur_ids) & historical
        if revived:
            raise ValueError(
                f"new schema reuses retired field ids {sorted(revived)} — "
                "added fields must take fresh ids (Iceberg's no-reuse "
                "rule: a recycled id would resurrect the dropped field's "
                "historical data)"
            )
        # a renamed sort column re-points the recorded sort order (the
        # physical clustering is untouched — footer stats live in the
        # files, reached through the rename at plan time); partition
        # columns can't get here (gated above)
        from iceberg_evolve_spark.operators.evolution import RenameColumn

        renames = {
            op.name: op.target
            for op in ops
            if isinstance(op, RenameColumn) and "." not in op.name
        }

        def _build(fresh: list[dict]) -> dict:
            head = self._composable_head(fresh, cur, allow_fold=False)
            # the diff was computed against cur's schema; any schema move
            # in between (another evolve) invalidates it
            if head.get("schema_id") != cur.get("schema_id"):
                raise CommitConflict(
                    "schema evolved under this evolve_schema — re-diff "
                    "against the new head and retry"
                )
            self._gate_schema_change(head, ops)  # fresh deletes too
            new_sid = max(int(k) for k in head["schemas"]) + 1
            return self._successor(
                head,
                head["version"] + 1,
                note or f"evolve schema -> id {new_sid}",
                ts,
                schema_id=new_sid,
                schemas={
                    **head["schemas"],
                    str(new_sid): schema_to_json(new_schema.struct, new_sid),
                },
                schema_evolution={
                    "from": int(head["schema_id"]),
                    "to": new_sid,
                },
                sort_by=[renames.get(c, c) for c in head.get("sort_by", [])],
            )

        return self._commit_build(_build)

    # -- write path ----------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        note: str | None = None,
        ts: float | None = None,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        sort_files: int | None = None,
        schema=None,
        track_schema: bool = False,
    ) -> int:
        """Write ``df`` as the next snapshot; returns the new version number.

        Starts a NEW lineage: the data lands in a fresh dir, one manifest
        file lists it, and the snapshot-log append is the commit point (see
        module docstring for the crash analysis). ``partition_by`` writes a
        key=value partitioned layout inside the data dir (a partition spec
        for this snapshot) — reads, metadata tables, footer pruning, and
        merge-on-read deletes all walk it.

        Not available on a BRANCH handle: ``write`` starts a new lineage,
        and branches extend their fork point's lineage (Iceberg's audit
        branches behave the same — appends and row-level deletes, never a
        table replace).

        ``sort_by`` is the table's SORT ORDER (Iceberg's sort-order spec):
        rows are range-repartitioned then sorted within each task on these
        columns before writing, so every data file covers a NARROW range
        and the footer min/max bounds :meth:`plan_scan` prunes on become
        tight — the clustering that turns a selective range scan on 100 TB
        into a few-file read. Recorded in the snapshot entry; appends to a
        sorted lineage re-sort their own increment (file-level clustering,
        as Iceberg's sorted writes), and scoped compaction re-sorts what it
        rewrites."""
        if self.branch:
            raise ValueError(
                "write() starts a new lineage — not allowed on branch "
                f"{self.branch!r}; use append()/delete_*/merge instead, "
                "or write on main"
            )
        tracking = None
        if schema is not None or track_schema:
            # bootstrap schema tracking (see the tracking section above):
            # an explicit Schema pins the field ids; track_schema derives
            # one from the DataFrame (sequential ids)
            from iceberg_evolve_spark.schema import Schema
            from iceberg_evolve_spark.serializer import schema_to_json

            if schema is None:
                schema = Schema.from_spark_struct(df.schema)
            if sorted(f.name for f in schema.fields) != sorted(df.columns):
                raise ValueError(
                    "schema fields do not match the DataFrame's columns: "
                    f"{sorted(f.name for f in schema.fields)} vs "
                    f"{sorted(df.columns)}"
                )
            tracking = {
                "schema_id": 0,
                "schemas": {"0": schema_to_json(schema.struct, 0)},
            }
        entries = self.versions()
        version = (entries[-1]["version"] + 1) if entries else 1
        # writer-unique scratch: two concurrent writers never write into
        # each other's payload dir (the lineage name is claimed after)
        tmp = os.path.join(
            self.path, f"v{version:05d}.{uuid.uuid4().hex[:8]}.tmp"
        )
        df = _apply_sort_order(df, sort_by, sort_files)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        return self._new_lineage(
            entries, tmp, note, ts, partition_by, sort_by, tracking
        )

    def _new_lineage(
        self,
        entries: list[dict],
        payload: str,
        note: str | None,
        ts: float | None,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        tracking: dict | None = None,
    ) -> int:
        """THE entry builder of a fresh lineage (:meth:`write` and the
        overwrite :meth:`publish`): claim a lineage dir for the parquet dir
        written at ``payload``, write the one manifest listing its files,
        and CAS-publish the entry on ``entries``' head — a concurrent
        writer advancing the log raises (a new lineage replaces the table
        CONTENT, never someone else's commit). ``tracking`` (an entry, or
        a bootstrap ``{schema_id, schemas}``) carries schema tracking onto
        the new lineage, every file stamped with its current id.

        Placement is COLLISION-SAFE under the lock-free commit plane: the
        preferred ``v{version}`` name is claimed by atomic rename (rename
        onto an existing non-empty dir FAILS, never replaces), and on a
        collision — a crashed retry's orphan, or a concurrent writer that
        placed its payload first — this writer takes a uuid-suffixed
        lineage name instead. data_dir is carried per entry, so nothing
        requires the deterministic name; whichever writer loses the CAS
        leaves an ordinary unreferenced orphan for retention's sweep."""
        version = (entries[-1]["version"] + 1) if entries else 1
        data_dir = f"v{version:05d}"
        if os.path.isdir(os.path.join(self.path, data_dir)):
            data_dir = f"v{version:05d}-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(payload, os.path.join(self.path, data_dir))
        except OSError:
            data_dir = f"v{version:05d}-{uuid.uuid4().hex[:8]}"
            os.rename(payload, os.path.join(self.path, data_dir))
        mname = self._write_manifest_file(
            version, parquet_files(os.path.join(self.path, data_dir))
        )
        entry = {
            "version": version,
            "data_dir": data_dir,
            "manifests": [mname],
            # the lineage's files carry no per-file sequence marker; they
            # are its BASE and inherit this sequence number (Iceberg's data
            # sequence number, used so later equality deletes apply only to
            # strictly older data — see append())
            "base_seq": version,
            "ts": time.time() if ts is None else ts,
            "note": note,
        }
        if partition_by:
            entry["partition_by"] = list(partition_by)
        if sort_by:
            entry["sort_by"] = list(sort_by)
        if tracking is not None and "schema_id" in tracking:
            sid = tracking["schema_id"]
            entry["schema_id"] = sid
            entry["schemas"] = dict(tracking["schemas"])
            entry["manifest_schemas"] = {mname: sid}
        self._commit(
            entries + [entry],
            expected_head=entries[-1]["version"] if entries else 0,
        )
        return version

    def _ingest_stage(self, stage: str, dest_dir: str, prefix: str) -> list[str]:
        """Move a staged parquet write's part files into the lineage dir,
        name-stamped with ``prefix`` (the data-sequence marker), preserving
        key=value subdirs. Per-file ``os.rename`` is atomic; the files stay
        invisible until the snapshot-log commit because reads are
        manifest-list-based. Returns the files' lineage-relative paths."""
        rels = []
        for src in parquet_files(stage):
            sub, fn = os.path.split(src)
            rel = os.path.join(sub, f"{prefix}{fn}")
            os.makedirs(os.path.join(dest_dir, sub), exist_ok=True)
            os.rename(os.path.join(stage, src), os.path.join(dest_dir, rel))
            rels.append(rel)
        shutil.rmtree(stage, ignore_errors=True)
        return sorted(rels)

    def append(
        self,
        df: DataFrame,
        note: str | None = None,
        ts: float | None = None,
    ) -> int:
        """FAST APPEND: commit ``df``'s rows as NEW data files added to the
        current snapshot — O(rows appended) data work and O(files appended)
        metadata work; nothing pre-existing is read, rewritten, linked, or
        even listed. This is the streaming commit primitive (Iceberg's
        fast-append + data-sequence-number semantics): appended files are
        named with this commit's sequence number (``s{version}-...``), and
        equality deletes apply only to data files with a STRICTLY OLDER
        sequence — so the CDC upsert shape (eq-delete the key and append the
        new row, in one :meth:`row_delta` or in adjacent commits) keeps the
        new row live while retiring the old one.

        The new files land inside the lineage's existing data dir (same
        key=value layout) and ONE new manifest file lists them; the new
        snapshot entry's manifest list is the previous entry's plus that one
        — the Iceberg manifest-list discipline, O(new files) per commit.
        Carried delete files stay attached and still apply to the files they
        were committed against (positions are stable: pre-existing files are
        not touched at all)."""
        entries = self.versions()
        if not entries:
            return self.write(df, note=note or "append (bootstrap)", ts=ts)
        cur = entries[-1]
        self._check_append_schema(cur, df)
        return self._commit_delta(
            cur, self._stage_rows(cur, df), None, note or "append", ts
        )

    def _stage_rows(self, cur: dict, df: DataFrame) -> str | None:
        """Write ``df`` into a stage dir laid out like ``cur``'s lineage
        (partition spec, sort order) for :meth:`_commit_delta` to ingest.
        None, with nothing left behind, when it holds no rows: no empty
        commits, counted from the footers (Spark writes a 0-row part
        file)."""
        # writer-unique stage dir: two concurrent appends must never share
        # scratch (crashed stages become orphans, swept by expire_snapshots)
        stage = os.path.join(
            self.path,
            f"v{cur['version'] + 1:05d}-{uuid.uuid4().hex[:8]}.stage",
        )
        # a sorted lineage clusters each increment on its own (file-level
        # clustering, as Iceberg sorted writes — old files stay untouched)
        df = _apply_sort_order(df, cur.get("sort_by"))
        writer = df.write.mode("overwrite")
        if cur.get("partition_by"):
            # appended files must land inside the same key=value layout so
            # one basePath covers every file the manifest lists
            writer = writer.partitionBy(*cur["partition_by"])
        writer.parquet(stage)
        if _parquet_dir_rows(stage) == 0:
            shutil.rmtree(stage, ignore_errors=True)
            return None
        return stage

    def rollback(self, version: int, note: str | None = None, ts: float | None = None) -> int:
        """Make ``version``'s data current again by appending a NEW snapshot
        entry that points at the old manifest list (history preserved). The
        target's delete files (if any) are carried along — rolling back to a
        merge-on-read snapshot restores its row-level deletes too. The entry
        is stamped ``rollback_of`` so :meth:`changes_between` can refuse (or
        value-diff) ranges that cross it — a rollback silently shrinks the
        live set, which file-attributed changelogs cannot express."""
        entries = self.versions()
        target = self._entry_for(entries, version)
        new_version = entries[-1]["version"] + 1
        # the successor of the TARGET: its files, deletes and schema (its
        # data reads under the schema it was committed with)
        new_entry = self._successor(
            target,
            new_version,
            note or f"rollback to v{version}",
            ts,
            rollback_of=int(version),
        )
        # rollbacks rewrite visibility: never compose — CAS raises if any
        # writer advanced the log since the target was resolved
        self._commit(entries + [new_entry], expected_head=entries[-1]["version"])
        return new_version

    # -- row-level deletes (Iceberg v2 merge-on-read) -----------------------
    #
    # A delete does NOT rewrite the (immutable) data files. It writes a small
    # DELETE FILE and appends a log entry referencing the SAME manifest list
    # plus the accumulated delete-file list — exactly Iceberg v2's
    # merge-on-read: writes stay O(rows deleted), reads subtract the delete
    # files, and compaction (:meth:`rewrite_data_files`) folds them back into
    # clean data files when read amplification warrants it. Three delete-file
    # kinds, as in the Iceberg v2/v3 specs:
    #
    # * **positional** (`kind="pos"`): rows ``(_file, _pos)`` naming exact row
    #   positions inside named data files — produced from a predicate by
    #   scanning once with the parquet reader's ``_metadata.file_path`` /
    #   ``_metadata.row_index`` columns (stable because data files never
    #   change).
    # * **equality** (`kind="eq"`): rows of key-column values; every data row
    #   matching a key is deleted (what a CDC stream's deletes compile to —
    #   no read of the data at write time at all).
    # * **deletion vector** (`kind="dv"`): one row per data file holding the
    #   sorted array of its deleted positions; at most one per snapshot, each
    #   new vector superseding the last (see the deletion-vector section).
    #
    # Read-side application is one join per delete kind (see
    # ``_apply_deletes``): positional files and the vector share one
    # (file, position) side, equality files one side per key-column tuple.
    # A side at most ``BROADCAST_DELETE_MAX_BYTES`` on disk is broadcast, so
    # the scan stays a single pass with no extra shuffle; a bigger one
    # leaves the join strategy to AQE.

    @staticmethod
    def _restamp_seq(
        dest: str, rels: list[str], old_v: int, new_v: int
    ) -> list[str]:
        """Rename just-ingested (still-uncommitted, hence invisible) files
        from the provisional ``s{old_v}-`` sequence stamp to the final
        commit's ``s{new_v}-`` — O(new files) metadata renames inside the
        commit lock. Without this, a commit renumbered past a concurrent
        equality delete would keep a sequence OLDER than that delete's,
        and the delete would silently erase rows that serialized after
        it."""
        old_p, new_p = f"s{old_v:05d}-", f"s{new_v:05d}-"
        out = []
        for rel in rels:
            d, base = os.path.split(rel)
            if not base.startswith(old_p):  # defensive: never mangle
                out.append(rel)
                continue
            nbase = new_p + base[len(old_p):]
            nrel = os.path.join(d, nbase) if d else nbase
            os.rename(os.path.join(dest, rel), os.path.join(dest, nrel))
            out.append(nrel)
        return sorted(out)

    def _write_delete_dir(
        self, entries: list[dict], frame: DataFrame, accept=None
    ) -> str | None:
        """Write ``frame`` as a delete file and return the ``d*`` dir name
        it claimed. The write lands in a writer-unique scratch dir, then
        the name is claimed by renaming the scratch into place. POSIX
        ``rename`` onto an existing non-empty directory fails, so when a
        concurrent writer took the name first this re-scans for the next
        free number and retries — each writer ends up with its OWN
        directory, never silently sharing one. ``accept(scratch)``
        inspects the written files before the claim: False (nothing to
        commit) or a raise drops the scratch dir, leaving nothing behind,
        and False returns None."""
        import errno

        dd = self._next_delete_dir(entries)
        tmp = os.path.join(self.path, f"{dd}.{uuid.uuid4().hex[:8]}.tmp")
        frame.write.mode("overwrite").parquet(tmp)
        try:
            keep = accept is None or accept(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if not keep:
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        for _ in range(1000):
            try:
                os.rename(tmp, os.path.join(self.path, dd))
                return dd
            except OSError as exc:
                if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                    raise  # real filesystem failure, not a name collision
                dd = self._next_delete_dir(self.versions())
        raise CommitConflict("could not claim a delete directory name")

    def _next_delete_dir(self, entries: list[dict]) -> str:
        # max over log references AND disk names, +1: a count-based scheme
        # can SHRINK after expire_snapshots drops entries and then collide
        # with a live delete dir; the disk scan additionally skips over
        # crash orphans (written, never committed)
        mx = 0
        for e in entries:
            for d in e.get("deletes", []):
                mx = max(mx, int(d["dir"][1:]))
        for name in os.listdir(self.path):
            if name[:1] == "d" and name[1:].isdigit():
                mx = max(mx, int(name[1:]))
        return f"d{mx + 1:05d}"

    def _commit_delta(
        self,
        cur: dict,
        stage: str | None,
        delete: dict | None,
        note: str,
        ts: float | None,
    ) -> int:
        """THE row-level commit (Iceberg's ``RowDelta``), the one entry
        builder of append, append-publish, every delete kind and
        :meth:`row_delta`: ``stage``'s data files and/or ONE ``delete``
        file land on the head as a single snapshot (neither: no commit).
        ``cur`` is the snapshot the payload was computed against.

        Sequence numbers are assigned at commit time, as in Iceberg: the
        files are ingested under a provisional ``s{v}-`` prefix (invisible
        until the log commit) and renamed if the CAS lands on a moved head;
        the delete takes the same final version. Deletes apply only to
        STRICTLY OLDER data, so the commit's own rows survive its delete
        and an earlier-serialized delete never erases them. A commit with
        a delete does not compose over a delete-stack fold, and a merged
        deletion vector refuses any concurrent delete-stack change."""
        if stage is None and delete is None:
            return cur["version"]
        dest = os.path.join(self.path, cur["data_dir"])
        # mutable across CAS retries: each lost publish race re-runs _build
        # against the fresh log, and the restamp must move the files from
        # wherever the PREVIOUS attempt left them
        stamped = {"v": cur["version"] + 1, "rels": []}
        if stage is not None:
            stamped["rels"] = self._ingest_stage(
                stage, dest, f"s{stamped['v']:05d}-"
            )

        def _build(fresh: list[dict]) -> dict:
            head = self._composable_head(
                fresh, cur, allow_fold=delete is None
            )
            new_version = head["version"] + 1
            manifests = list(head["manifests"])
            if stamped["rels"]:
                if new_version != stamped["v"]:
                    stamped["rels"] = self._restamp_seq(
                        dest, stamped["rels"], stamped["v"], new_version
                    )
                    stamped["v"] = new_version
                manifests.append(
                    self._write_manifest_file(new_version, stamped["rels"])
                )
            deletes = list(head.get("deletes", []))
            if delete is not None:
                if delete["kind"] == "dv":
                    if delete_stack_keys(head) != delete_stack_keys(cur):
                        raise CommitConflict(
                            "concurrent delete commit: this merged deletion "
                            "vector was computed against a delete stack "
                            "that moved — retry the delete against the new "
                            "head"
                        )
                    # Iceberg v3 invariant: at most ONE deletion vector per
                    # snapshot — the new (merged) vector REPLACES the old,
                    # which stays on disk for older versions until retention
                    deletes = [x for x in deletes if x["kind"] != "dv"]
                deletes.append({**delete, "seq": new_version})
            # has_appends marks the lineage as multi-sequence: readers
            # compare per-file sequence numbers against delete sequences
            # (on an append-free lineage every file predates every delete)
            return self._successor(
                head,
                new_version,
                note,
                ts,
                manifests=manifests,
                has_appends=bool(stamped["rels"] or head.get("has_appends")),
                deletes=deletes,
            )

        return self._commit_build(_build)

    def row_delta(
        self,
        add: DataFrame | None = None,
        delete_keys: DataFrame | None = None,
        cols: list[str] | None = None,
        note: str | None = None,
        ts: float | None = None,
    ) -> int:
        """ROW DELTA: append ``add``'s rows AND equality-delete every current
        row whose ``cols`` values appear in ``delete_keys`` as ONE commit
        (Iceberg's ``RowDelta``), so no read ever sees the delete without
        the add. The added rows share the delete's sequence number and
        survive it: "delete key k, add k's new row" is the upsert the CDC
        sink and MERGE INTO commit. Each side is gated like :meth:`append`
        / :meth:`delete_by_key`; empty sides are skipped (both: no commit).
        On an empty table the add bootstraps it, as :meth:`append` does.
        Returns the new (or unchanged) head version."""
        if delete_keys is not None and not cols:
            raise ValueError("delete_keys needs the key columns (cols)")
        entries = self.versions()
        if not entries:
            if add is None:
                return 0
            return self.write(add, note=note or "row_delta", ts=ts)
        cur = entries[-1]
        if add is not None:
            self._check_append_schema(cur, add)
        delete = (
            self._write_eq_delete(entries, delete_keys, cols)
            if delete_keys is not None
            else None
        )
        stage = self._stage_rows(cur, add) if add is not None else None
        return self._commit_delta(cur, stage, delete, note or "row_delta", ts)

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        note: str | None = None,
        ts: float | None = None,
        vector: bool = False,
    ) -> int:
        """Row-level delete by predicate via a POSITIONAL delete file.

        Scans the current snapshot once (existing deletes applied, so already-
        deleted rows are not re-listed), writes matching rows' (file, position)
        pairs as a delete file, and commits a new snapshot referencing the
        unchanged data files. Returns the new version — or the current one
        unchanged if nothing matched (no empty commits, as Iceberg). The scan
        is the cost of a filtered read; the write is O(rows deleted).

        ``vector=True`` writes a DELETION VECTOR instead (Iceberg v3): the
        matched positions are UNIONED with the table's current vector and
        committed as ONE merged per-file structure superseding it, so the
        read side scans a single small file however many vector deletes
        have accumulated — the v3 fix for v2's one-file-per-delete read
        amplification. Cost: the same filtered scan + a shuffle of
        O(all vectored positions) to re-group by file (Iceberg's
        maintenance trade: merge on write, constant on read)."""
        entries = self.versions()
        if not entries:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        live = self._read_with_pos(spark, entries[-1])
        matched = live.filter(condition).select("_file", "_pos")
        if vector:
            return self._commit_delete_vector(
                spark, entries, matched, note or "delete_where (vector)", ts
            )
        # No coalesce: the filtered snapshot scan must parallelize (coalesce
        # is a narrow dependency, so coalesce(1) would pull the WHOLE
        # read→filter pipeline onto one task — a serial full-table scan at
        # scale). A delete "file" is a DIRECTORY of part files; readers take
        # the dir, so multi-file is free, and small deletes still land in few
        # files because AQE's partition coalescing has already shrunk the
        # scan's output partitioning where the data is small.
        # Empty delete => no commit; counted from the written footers —
        # KB-scale driver reads, no second Spark job over the data.
        dd = self._write_delete_dir(
            entries, matched, lambda tmp: _parquet_dir_rows(tmp) > 0
        )
        if dd is None:
            return entries[-1]["version"]
        # paths stamp (ADVICE r9): recorded _file values are lineage-dir-
        # relative; the reader REFUSES unstamped delete files whose paths
        # look absolute (the pre-r9 scheme) instead of silently un-deleting.
        return self._commit_delta(
            entries[-1], None, {"dir": dd, "kind": "pos", "paths": "rel"},
            note or "delete_where", ts,
        )

    def delete_by_key(
        self,
        keys: DataFrame,
        cols: list[str],
        note: str | None = None,
        ts: float | None = None,
    ) -> int:
        """Row-level delete by key via an EQUALITY delete file: every current
        data row whose ``cols`` values appear in ``keys`` is deleted on read.
        Writes only the distinct key rows — the data is never scanned at
        write time (the CDC-delete shape). NULL keys are rejected: equality
        deletes match with plain equality, and a NULL key would silently
        match nothing. Empty keys are a no-op returning the current version
        unchanged (no empty commits, matching :meth:`delete_where`)."""
        entries = self.versions()
        if not entries:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        return self._commit_delta(
            entries[-1], None, self._write_eq_delete(entries, keys, cols),
            note or f"delete_by_key {cols}", ts,
        )

    def _write_eq_delete(
        self, entries: list[dict], keys: DataFrame, cols: list[str]
    ) -> dict | None:
        """Write the distinct ``cols`` rows of ``keys`` as an equality-delete
        file and claim its dir; the delete descriptor for
        :meth:`_commit_delta`, or None (nothing left behind) when there are
        no keys. NULL keys raise."""

        def _accept(tmp: str) -> bool:
            # row count and NULL-key gate from one pass over the written
            # footers — KB-scale driver reads instead of a second Spark pass
            # over the distinct (the pre-write filter+count ran the whole
            # distinct twice); a footer without null statistics (non-Spark
            # writer) falls back to the data read. The refusal drops the
            # scratch dir, so the raise leaves no orphan behind.
            rows, footer = read_dir_footer(tmp, cols)
            if not rows:
                return False
            if any(fc is None or fc.nulls is None for fc in footer.values()):
                scratch = {"dir": tmp, "kind": "eq", "cols": cols}
                nulls = (
                    self._read_delete(keys.sparkSession, scratch)
                    .filter(" OR ".join(f"({c} IS NULL)" for c in cols))
                    .limit(1)
                    .count()
                )
            else:
                nulls = sum(fc.nulls for fc in footer.values())
            if nulls:
                raise ValueError(
                    f"equality-delete keys contain NULLs in {cols}"
                )
            return True

        # distinct() already shuffled, so the write parallelism is the
        # post-shuffle partitioning — AQE-coalesced to few files when the key
        # set is small, parallel when a mass delete is genuinely large.
        dd = self._write_delete_dir(
            entries, keys.select(*cols).distinct(), _accept
        )
        if dd is None:
            return None
        return {"dir": dd, "kind": "eq", "cols": list(cols)}

    def _write_vector(
        self,
        entries: list[dict],
        pairs: DataFrame,
        prev: dict | None,
        accept=None,
    ) -> dict | None:
        """Write ``(_file, _pos)`` pairs as a deletion-vector dir (see
        :meth:`_commit_delete_vector` for the layout) through
        :meth:`_write_delete_dir` and return its ``dv`` delete descriptor,
        whose ``supersedes`` chain extends ``prev``'s (the vector it
        replaces); None when ``accept`` refused it."""
        from pyspark.sql import functions as F

        dv = (
            pairs.groupBy("_file")
            .agg(F.sort_array(F.collect_set("_pos")).alias("positions"))
            .withColumn("card", F.size("positions").cast("long"))
        )
        dd = self._write_delete_dir(entries, dv, accept)
        if dd is None:
            return None
        delete = {"dir": dd, "kind": "dv", "paths": "rel"}
        if prev is not None:
            delete["supersedes"] = [*prev.get("supersedes", []), prev["dir"]]
        return delete

    # -- deletion vectors (Iceberg v3) --------------------------------------
    @staticmethod
    def _dv_entry(entry: dict) -> dict | None:
        """The snapshot's (single) deletion-vector delete entry, if any."""
        for d in entry.get("deletes", []):
            if d["kind"] == "dv":
                return d
        return None

    def _dv_total_card(self, d: dict) -> int:
        """Total deleted-position count of vector dir ``d``, from its (one
        row per data file) ``card`` column — KB-scale driver reads."""
        return sum(self._delete_columns(d, ["card"])[0])

    def _commit_delete_vector(
        self,
        spark: SparkSession,
        entries: list[dict],
        matched: DataFrame,
        note: str,
        ts: float | None,
    ) -> int:
        """Merge ``matched`` (_file, _pos) rows into the table's deletion
        vector and commit the result as the snapshot's single ``dv`` delete
        entry (Iceberg v3: one vector per snapshot; a new vector always
        SUPERSEDES — is a superset of — the old one, recorded in the
        ``supersedes`` chain so changelog scans can attribute the delta).

        Layout: a parquet dir with one row per touched data file —
        ``(_file string, positions array<bigint> sorted, card bigint)``.
        Sorted arrays make parquet's delta encoding the compression (the
        role roaring bitmaps play in Iceberg's Puffin blobs) and the output
        deterministic. Per-file arrays live in executor memory during the
        groupBy — the same per-file bound a real DV writer carries."""
        cur = entries[-1]
        prev = self._dv_entry(cur)
        pairs = matched
        prev_card = 0
        if prev is not None:
            prev_card = self._dv_total_card(prev)
            pairs = pairs.unionByName(self._delete_rows(spark, prev)[1])
        # matched rows come from the CURRENT read (existing vector already
        # applied), so merged ⊇ old with equality iff nothing new matched:
        # equal cardinality ⇒ no commit (footer-scale check, no extra job)
        delete = self._write_vector(
            entries,
            pairs,
            prev,
            lambda tmp: self._dv_total_card({"dir": tmp, "kind": "dv"})
            != prev_card,
        )
        if delete is None:
            return cur["version"]
        return self._commit_delta(cur, None, delete, note, ts)

    def rewrite_delete_files(
        self,
        spark: SparkSession,
        note: str | None = None,
        ts: float | None = None,
    ) -> int | None:
        """Fold the ENTIRE delete stack (positional files, equality files,
        prior vector) into ONE deletion vector — Iceberg's
        ``rewrite_position_delete_files`` maintenance action, extended to
        absorb equality deletes the way v2→v3 table migration does. No
        data file is read beyond one scan, none is written: the commit
        reuses the snapshot's manifests verbatim and replaces K delete
        entries with a single ``dv`` entry, so a read applies one small
        vector instead of the stack's files while write amplification is
        O(deleted rows) — the cheap maintenance step between plain reads
        and a full :meth:`rewrite_data_files` binpack.

        The positions are computed by ONE pass: the snapshot's raw file
        set scanned with row positions and semi-joined against the stack
        by :meth:`_apply_deletes` (the reader's own joins, so the fold
        deletes exactly what a read hides). The new entry is stamped
        ``delete_rewrite`` so changelog scans know delete files vanished
        WITHOUT a rollback: net changes across this commit are zero by
        construction, and the changelog's semi-join against the
        ``from``-side live rows keeps attribution exact across it. Returns
        the new version, or None when the stack is already a single vector
        (or empty) — no empty commits."""
        entries = self.versions()
        if not entries:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        cur = entries[-1]
        deletes = cur.get("deletes", [])
        if not deletes or (
            len(deletes) == 1 and deletes[0]["kind"] == "dv"
        ):
            return None
        raw = self._read_with_pos(spark, {**cur, "deletes": []})
        hit = self._apply_deletes(
            spark, raw, deletes, bool(cur.get("has_appends")), "semi"
        )
        delete = self._write_vector(
            entries, hit.select("_file", "_pos"), self._dv_entry(cur)
        )
        version = cur["version"] + 1
        new_entry = self._successor(
            cur,
            version,
            note
            or f"rewrite_delete_files: {len(deletes)} delete files -> 1 vector",
            ts,
            deletes=[{**delete, "seq": version}],
            delete_rewrite=True,
        )
        # folds replace the delete stack: never compose — CAS raises if a
        # writer advanced the log since the stack was read
        self._commit(entries + [new_entry], expected_head=cur["version"])
        return version

    # -- delete files: one footer peek, one reader, one applier ---------------
    def _peek_delete(self, d: dict) -> "tuple[str, object]":
        """THE footer peek of delete dir ``d`` (``d["dir"]`` relative to the
        table, or an absolute scratch dir): its path and Spark schema, from
        the first file's footer (no schema-inference job). ``ValueError``
        names the dir when it lacks its kind's columns, or when an unstamped
        positional delete records ABSOLUTE paths (the pre-r9 scheme), which
        would silently resurrect deleted rows."""
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        ddir = os.path.join(self.path, d["dir"])
        rels = parquet_files(ddir)
        if not rels:
            raise ValueError(f"delete dir {d['dir']} holds no parquet file")
        pf = pq.ParquetFile(os.path.join(ddir, rels[0]))
        # a Spark writer records its schema in the footer's key-value data
        recorded = (pf.metadata.metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata"
        )
        if recorded is not None:
            schema = StructType.fromJson(json.loads(recorded))
        else:
            from pyspark.sql.pandas.types import from_arrow_schema

            schema = from_arrow_schema(pf.schema_arrow)
        need = d["cols"] if d["kind"] == "eq" else _DELETE_COLS[d["kind"]]
        missing = [c for c in need if c not in schema.names]
        if missing:
            raise ValueError(
                f"{d['kind']} delete file {d['dir']} lacks its columns "
                f"{missing} (holds {schema.names})"
            )
        if d["kind"] == "pos" and d.get("paths") != "rel":
            files = (pq.ParquetFile(os.path.join(ddir, r)) for r in rels)
            pf = next((f for f in files if f.metadata.num_rows), None)
            first = pf and pf.read_row_group(0, ["_file"])[0][0].as_py()
            if first and (first.startswith("/") or "://" in first):
                raise ValueError(
                    f"positional delete file {d['dir']} records ABSOLUTE "
                    "data-file paths (pre-relative-path format); rewrite "
                    "it against the current layout or re-issue the "
                    "delete — refusing to silently un-delete rows"
                )
        return ddir, schema

    def _read_delete(self, spark: SparkSession, d: dict) -> DataFrame:
        """Delete dir ``d`` as a DataFrame under its peeked schema (see
        :meth:`_peek_delete`) — the one Spark reader of delete files."""
        ddir, schema = self._peek_delete(d)
        return spark.read.schema(schema).parquet(ddir)

    def _delete_columns(self, d: dict, cols: list[str]) -> list[list]:
        """``cols`` of delete dir ``d`` as Python lists, after the peek's
        checks — a KB-scale driver-side read, never a Spark job."""
        import pyarrow.parquet as pq

        ddir, _schema = self._peek_delete(d)
        out: list[list] = [[] for _ in cols]
        for rel in parquet_files(ddir):
            tbl = pq.read_table(os.path.join(ddir, rel), columns=list(cols))
            for acc, col in zip(out, tbl.columns):
                acc.extend(col.to_pylist())
        return out

    def _delete_rows(
        self, spark: SparkSession, d: dict, multi_seq: bool = False
    ) -> "tuple[object, DataFrame]":
        """Delete ``d``'s join-side rows and the key of their side.
        Positional files and vectors give ``(_file, _pos)`` pairs on the
        ``"pos"`` side (a vector ``explode``d on the small side, so the
        scan stays in whole-stage codegen). An equality file gives its keys
        renamed ``_dk{i}`` plus ``_dseq``, its data sequence, on the side of
        its ``cols`` tuple; ``_dseq`` is Long.MAX (hits every matching row)
        for a legacy entry without ``seq`` and unless ``multi_seq``: on an
        append-free lineage every data file predates every delete."""
        from pyspark.sql import functions as F

        rows = self._read_delete(spark, d)
        if d["kind"] == "pos":
            return "pos", rows.select("_file", "_pos")
        if d["kind"] == "dv":
            return "pos", rows.select(
                "_file", F.explode("positions").alias("_pos")
            )
        dseq = d.get("seq")
        tag = int(dseq) if dseq is not None and multi_seq else (1 << 63) - 1
        return tuple(d["cols"]), rows.select(
            *[F.col(c).alias(f"_dk{i}") for i, c in enumerate(d["cols"])],
            F.lit(tag).cast("long").alias("_dseq"),
        )

    def _apply_deletes(
        self,
        spark: SparkSession,
        df: DataFrame,
        deletes: list[dict],
        multi_seq: bool,
        how: str,
    ) -> DataFrame:
        """THE delete applier: ``df`` (a scan carrying ``_file``/``_pos``/
        ``_seq``) minus the rows ``deletes`` hit (``how="anti"``: reads), or
        only those rows, each once (``how="semi"``: the fold, the
        changelog). One join per delete KIND, not per file: positional files
        and the vector form one ``(_file, _pos)`` side; equality files on
        the same ``cols`` form one side, joined on the keys plus
        ``_seq < _dseq`` — a row dies only if its data file predates the
        delete (Iceberg's data-sequence rule). Semi and anti joins ignore
        duplicate right keys, so no side needs a ``distinct``. A side whose
        dirs sum to at most ``BROADCAST_DELETE_MAX_BYTES`` is broadcast (the
        scan stays one pass, no shuffle); past the guard AQE picks the
        strategy, so a mass delete cannot force an oversized broadcast."""
        from functools import reduce

        from pyspark.sql import functions as F

        sides: dict = {}
        for d in deletes:
            key, rows = self._delete_rows(spark, d, multi_seq)
            nbytes = _dir_bytes(os.path.join(self.path, d["dir"]))
            sides.setdefault(key, []).append((rows, nbytes))
        out, hits = df, []
        for key, parts in sides.items():
            side = reduce(DataFrame.unionByName, [rows for rows, _ in parts])
            if sum(n for _, n in parts) <= BROADCAST_DELETE_MAX_BYTES:
                side = F.broadcast(side)
            if key == "pos":
                on = ["_file", "_pos"]
            else:
                on = F.col("_seq") < F.col("_dseq")
                for i, c in enumerate(key):
                    on = on & (F.col(c) == F.col(f"_dk{i}"))
            if how == "anti":
                out = out.join(side, on=on, how="anti")
            else:
                hits.append(df.join(side, on=on, how="semi"))
        if how == "semi":
            out = reduce(DataFrame.unionByName, hits)
            if len(hits) > 1:  # a row hit by two kinds is one change
                out = out.dropDuplicates(["_file", "_pos"])
        # joins put their keys first — restore the input column order
        return out.select(*df.columns)

    def _read_with_pos(
        self,
        spark: SparkSession,
        entry: dict,
        files: list[str] | None = None,
    ) -> DataFrame:
        """Current rows of ``entry`` with ``_file``/``_pos``/``_seq`` helper
        columns, its delete files subtracted by :meth:`_apply_deletes` (one
        anti-join per delete kind, size-guarded broadcast). ``files``
        narrows the scan to a pruned file subset (scan planning); without
        it the scan reads exactly the manifest-listed files (crash orphans
        in the shared lineage dir are invisible)."""
        from pyspark.sql import functions as F

        data_dir = os.path.join(self.path, entry["data_dir"])
        if files is None:
            files = self._entry_abs_files(entry)

        def _with_meta(sdf: DataFrame) -> DataFrame:
            clash = [c for c in _RESERVED_COLS if c in sdf.columns]
            if clash:
                raise ValueError(
                    f"table columns {clash} collide with merge-on-read "
                    "helper columns; rename them before using row-level "
                    "deletes"
                )
            # _file is the path RELATIVE to the lineage's data dir.
            # Appends add files but never move existing ones, so relative
            # paths (and therefore recorded positional deletes) stay valid
            # for the life of the lineage; a fresh write() starts a clean
            # lineage with no carried deletes. Names are unique within a
            # lineage (Spark part-file UUIDs + the s-prefix).
            return sdf.select(
                *sdf.columns,
                F.regexp_replace(
                    F.col("_metadata.file_path"),
                    r"^.*/v\d{5}(-[0-9a-f]{8})?/",
                    "",
                ).alias("_file"),
                F.col("_metadata.row_index").alias("_pos"),
            )

        rel_sids = self._rel_schema_map(entry)
        if rel_sids is not None:
            # schema-tracked multi-generation lineage: scan and project
            # each generation to the entry's current schema by field id —
            # the helper columns ride along through the projection
            df = self._union_generations(
                spark, entry, files, data_dir, rel_sids, _with_meta
            )
        else:
            # basePath keeps key=value partition columns discoverable when
            # scanning an explicit FILE LIST instead of the whole dir
            df = _with_meta(
                spark.read.option("basePath", data_dir).parquet(*files)
            )
        # data sequence number per file: appended files carry it in their
        # s{seq}- name prefix; base files inherit the lineage base sequence.
        # Append-free lineages (the common case) skip the per-row regexp —
        # every file is base.
        base_seq = int(entry.get("base_seq", 0))
        multi_seq = bool(entry.get("has_appends"))
        if multi_seq:
            seq_str = F.regexp_extract(
                F.col("_file"), r"(?:^|/)s(\d{5})-[^/]*$", 1
            )
            df = df.withColumn(
                "_seq",
                F.when(seq_str == "", F.lit(base_seq)).otherwise(
                    seq_str.cast("long")
                ),
            )
        else:
            df = df.withColumn("_seq", F.lit(base_seq))
        return self._apply_deletes(
            spark, df, entry.get("deletes", []), multi_seq, "anti"
        )

    # -- compaction -----------------------------------------------------------

    def rewrite_data_files(
        self,
        spark: SparkSession,
        note: str | None = None,
        ts: float | None = None,
        scope: str = "deletes",
        small_file_bytes: int = 0,
    ) -> int:
        """Compaction. ``scope="deletes"`` (default — Iceberg's
        ``rewrite_data_files`` + ``rewrite_position_delete_files`` shape)
        rewrites ONLY the data files the delete stack can touch: positional
        deletes name their files outright; equality deletes scope to files
        whose key-column bounds overlap the delete keys AND whose data
        sequence predates the delete (conservative keep on any unknown).
        ``small_file_bytes`` additionally binpacks files below that size
        (the streaming small-file fold). Untouched files are carried BY
        LIST, byte-identical — never read, copied, or linked; the commit
        also consolidates the manifest list to one file. The new snapshot
        carries no delete files and is stamped ``rewrite`` so changelog
        scans can refuse ranges that cross it.

        ``scope="all"`` materializes the whole current view into a fresh
        lineage (the layout-rewrite path — partition-spec changes, full
        re-clustering). Old snapshots still time-travel through their own
        delete stacks; retention eventually reclaims superseded files."""
        entries = self.versions()
        if not entries:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        cur = entries[-1]
        spec = cur.get("partition_by")
        if scope == "all":
            # a full rewrite materializes everything under the CURRENT
            # schema — carry tracking so evolution keeps working on the
            # fresh lineage (every file is the new generation id 0)
            return self.write(
                self.read(spark),
                note=note or "rewrite_data_files (full rewrite)",
                ts=ts,
                partition_by=spec,
                sort_by=cur.get("sort_by"),
                schema=self._entry_schema(cur),
            )
        if scope != "deletes":
            raise ValueError(f"unknown scope {scope!r} (deletes|all)")
        rel_files = self._entry_files(cur)
        data_dir = os.path.join(self.path, cur["data_dir"])
        base_seq = int(cur.get("base_seq", cur["version"]))
        affected: set[str] = set()
        for d in cur.get("deletes", []):
            if d["kind"] in ("pos", "dv"):
                # both name their data files outright (a deletion vector's
                # _file column is its per-file index)
                (named,) = self._delete_columns(d, ["_file"])
                affected |= set(named) & set(rel_files)
                continue
            # an equality delete reaches the strictly older files whose
            # footers can hold one of its keys: the delete dir's key bounds
            # prune them like a scan range (unknown bounds prune nothing —
            # over-rewriting is safe, under-rewriting loses deletes). The
            # bounds go in comparable form, so a timestamp key is never
            # coerced from a partition path written in the session zone.
            dseq = int(d.get("seq") or 10**9)
            older = [
                rel for rel in rel_files
                if rel not in affected and _rel_seq(rel, base_seq) < dseq
            ]
            _rows, key_footer = read_dir_footer(
                os.path.join(self.path, d["dir"]), d["cols"]
            )
            ranges = {
                c: (_to_comparable(fc.bounds[0]), _to_comparable(fc.bounds[1]))
                for c, fc in key_footer.items()
                if fc is not None and fc.bounds is not None
            }
            if ranges and older:
                kept, _ = prune_files_multi(
                    data_dir,
                    ranges,
                    files=[os.path.join(data_dir, rel) for rel in older],
                )
                older = [os.path.relpath(f, data_dir) for f in kept]
            affected.update(older)
        if small_file_bytes:
            for rel in rel_files:
                if rel in affected:
                    continue
                if os.path.getsize(os.path.join(data_dir, rel)) < small_file_bytes:
                    affected.add(rel)
        untouched = sorted(set(rel_files) - affected)
        version = cur["version"] + 1
        new_rels: list[str] = []
        if affected:
            survivors = self._read_with_pos(
                spark, cur, files=sorted(os.path.join(data_dir, r) for r in affected)
            ).drop(*_RESERVED_COLS)
            survivors = _apply_sort_order(survivors, cur.get("sort_by"))
            stage = os.path.join(
                self.path, f"v{version:05d}-{uuid.uuid4().hex[:8]}.stage"
            )
            writer = survivors.write.mode("overwrite")
            if spec:
                writer = writer.partitionBy(*spec)
            writer.parquet(stage)
            if _parquet_dir_rows(stage) == 0 and untouched:
                # all affected rows were deleted and other files remain: no
                # empty data files needed (but keep one when the table would
                # otherwise have NO files — reads need a schema)
                shutil.rmtree(stage, ignore_errors=True)
            else:
                new_rels = self._ingest_stage(
                    stage, data_dir, f"s{version:05d}-"
                )
        all_rels = untouched + new_rels
        rel_sids = self._rel_schema_map(cur)
        if rel_sids is None:
            new_manifests = [self._write_manifest_file(version, all_rels)]
            manifest_schemas = None
        else:
            # multi-generation lineage: rewritten files come out of the
            # generation-aware read CURRENT-schema, but untouched files
            # keep their written generation — group the consolidated
            # manifest per schema id so reads keep projecting correctly
            cur_sid = int(cur["schema_id"])
            groups: dict[int, list[str]] = {}
            for rel in untouched:
                groups.setdefault(rel_sids.get(rel, cur_sid), []).append(rel)
            if new_rels or not groups:
                groups.setdefault(cur_sid, []).extend(new_rels)
            new_manifests, manifest_schemas = [], {}
            for sid in sorted(groups):
                mn = self._write_manifest_file(
                    version, sorted(groups[sid]), suffix=f"-g{sid}"
                )
                new_manifests.append(mn)
                manifest_schemas[mn] = sid
        new_entry = self._successor(
            cur,
            version,
            note
            or f"rewrite_data_files (scoped: {len(affected)} rewritten, "
            f"{len(untouched)} carried)",
            ts,
            manifests=new_manifests,
            has_appends=any(_SEQ_RE.search(r) for r in all_rels),
            deletes=None,
            manifest_schemas=manifest_schemas,
            rewrite=True,
        )
        # compaction rewrites the manifest set: never composes — CAS raises
        # if a writer advanced the log since the rewrite was planned
        self._commit(entries + [new_entry], expected_head=cur["version"])
        return version

    def maintain(
        self,
        spark: SparkSession,
        max_delete_files: int = 8,
        max_commits: int = 32,
        note: str | None = None,
        ts: float | None = None,
        delete_mode: str = "rewrite",
    ) -> int | None:
        """AMORTIZED COMPACTION POLICY: fold the merge-on-read stack when
        read amplification warrants it — the maintenance loop every
        streaming MOR pipeline needs (each micro-batch adds one delete file
        and one append's worth of small files; unbounded, every read scans
        every delete file, and the join sides grow per commit). Compacts via
        :meth:`rewrite_data_files` (scoped: delete-referenced files plus
        sub-``SMALL_FILE_COMPACT_BYTES`` small files; untouched data carried
        by list) when the current snapshot carries at least
        ``max_delete_files`` delete files OR ``max_commits`` manifests since
        the last consolidation; otherwise does nothing. Returns the new
        version, or None when no action was taken. Cost when it fires is
        O(files touched), amortized O(1/N) per commit by the thresholds;
        manifest-only to decide (no data read).

        ``delete_mode="vector"`` answers DELETE pressure with the cheaper
        action — :meth:`rewrite_delete_files` folds the stack into one
        deletion vector, O(deleted rows) written, ZERO data files touched —
        and reserves the data-file binpack for the manifest-count trigger
        (small-file pressure). The two-tier policy real 100 TB maintenance
        runs: vectors every few minutes, binpacks hourly."""
        entries = self.versions()
        if not entries:
            return None
        cur = entries[-1]
        n_deletes = len(cur.get("deletes", ()))
        n_commits = len(cur["manifests"])
        if n_deletes < max_delete_files and n_commits < max_commits:
            return None
        if delete_mode == "vector" and n_commits < max_commits:
            return self.rewrite_delete_files(
                spark,
                note=note
                or f"maintain: fold {n_deletes} delete files -> vector",
                ts=ts,
            )
        return self.rewrite_data_files(
            spark,
            note=note
            or f"maintain: fold {n_deletes} delete files / "
            f"{n_commits} manifests since base",
            ts=ts,
            scope="deletes",
            small_file_bytes=SMALL_FILE_COMPACT_BYTES,
        )

    # -- read path ---------------------------------------------------------
    @staticmethod
    def _entry_for(entries: list[dict], version: int) -> dict:
        for e in entries:
            if e["version"] == version:
                return e
        raise LookupError(
            f"no snapshot version {version}; have {[e['version'] for e in entries]}"
        )

    def _resolve(self, version: int | None, as_of: float | None) -> dict:
        entries = self.versions()
        if not entries:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if version is not None:
            return self._entry_for(entries, version)
        if as_of is not None:
            eligible = [e for e in entries if e["ts"] <= as_of]
            if not eligible:
                raise LookupError(f"no snapshot at or before ts={as_of}")
            return eligible[-1]
        return entries[-1]

    # -- named refs (Iceberg tags) ------------------------------------------
    def _refs_path(self) -> str:
        return os.path.join(self.path, "_refs.json")

    def tags(self) -> dict[str, int]:
        """Named snapshot refs: ``{tag name: version}`` (Iceberg's tags —
        immutable pointers used for audited releases / reproducible reads)."""
        try:
            with open(self._refs_path()) as fh:
                return json.load(fh).get("tags", {})
        except FileNotFoundError:
            return {}

    def tag(self, name: str, version: int | None = None) -> int:
        """Tag ``version`` (default: current) with ``name``. Tags are
        immutable: re-tagging an existing name raises (drop it first) —
        a tag that silently moves defeats its reproducibility purpose.
        Tagged versions survive :meth:`expire_snapshots` regardless of
        ``keep_last``, exactly as Iceberg retention honors refs."""
        if self.branch:
            raise ValueError(
                "tags pin MAIN versions — fast_forward the branch first, "
                "then tag from the main handle"
            )
        entries = self.versions()
        if not entries:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        v = entries[-1]["version"] if version is None else version
        self._entry_for(entries, v)  # raises on unknown version
        tags = self.tags()
        if name in tags:
            raise ValueError(
                f"tag {name!r} already points at v{tags[name]} — "
                "drop_tag() first; tags do not move"
            )
        tags[name] = int(v)
        tmp = self._refs_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"tags": tags}, fh, indent=1)
        os.replace(tmp, self._refs_path())
        return int(v)

    def drop_tag(self, name: str) -> None:
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r}")
        del tags[name]
        tmp = self._refs_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"tags": tags}, fh, indent=1)
        os.replace(tmp, self._refs_path())

    def read_ref(self, spark: SparkSession, name: str) -> DataFrame:
        """Read the snapshot a tag points at (``VERSION AS OF`` by name)."""
        tags = self.tags()
        if name not in tags:
            raise KeyError(f"no tag {name!r}")
        return self.read(spark, version=tags[name])

    # -- branches (writable refs: Iceberg's audit-branch workflow) -----------
    _BRANCH_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_\-]*\Z")

    def create_branch(
        self, name: str, version: int | None = None
    ) -> "SnapshotTable":
        """Create a WRITABLE BRANCH at ``version`` (default: the current
        head) and return a handle bound to it — Iceberg's branch refs, the
        mechanism behind ``spark.wap.branch``: commits land on the branch's
        own snapshot log (appends, row-level deletes, merges, folds — the
        full MOR toolkit) while ``main`` and its readers never see them
        until :meth:`fast_forward`.

        Mechanics: the branch log starts as a copy of main's entries up to
        the fork point; both logs reference the SAME immutable data files,
        so the branch costs one JSON file, not a data copy. Divergent
        version numbers cannot collide on storage — data files are
        UUID-named and every read is manifest-scoped. ``write()`` (new
        lineage) is not allowed on a branch."""
        if self.branch:
            raise ValueError("create branches from the main handle")
        if name == "main" or not self._BRANCH_RE.fullmatch(name):
            raise ValueError(f"invalid branch name {name!r}")
        bpath = os.path.join(self.path, f"_snapshots_{name}.json")
        if os.path.exists(bpath):
            raise ValueError(f"branch {name!r} already exists")
        entries = self.versions()
        if not entries:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        upto = entries[-1]["version"] if version is None else version
        fork = [e for e in entries if e["version"] <= upto]
        if not fork:
            raise KeyError(f"no snapshot at or below v{upto}")
        # defensive: a crashed drop_branch can never leave commit files
        # without their checkpoint (it removes the tail first), but clear
        # any stale scope files regardless — they would splice a dead
        # branch's history onto the new fork
        cre = SnapshotTable(self.path, branch=name)._commit_file_re()
        for fname in os.listdir(self.path):
            if cre.fullmatch(fname):
                os.unlink(os.path.join(self.path, fname))
        tmp = bpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(fork, fh, indent=1)
        os.replace(tmp, bpath)
        return SnapshotTable(self.path, branch=name)

    def branch_table(self, name: str) -> "SnapshotTable":
        """Handle bound to an existing branch."""
        if not os.path.exists(
            os.path.join(self.path, f"_snapshots_{name}.json")
        ):
            raise KeyError(f"no branch {name!r}")
        return SnapshotTable(self.path, branch=name)

    def branches(self) -> dict[str, int]:
        """``{branch name: head version}`` of every live branch."""
        out = {}
        for fname in sorted(os.listdir(self.path)):
            m = re.fullmatch(r"_snapshots_(.+)\.json", fname)
            if m:
                log = SnapshotTable(self.path, branch=m.group(1)).versions()
                if log:
                    out[m.group(1)] = log[-1]["version"]
        return out

    def fast_forward(self, name: str) -> int:
        """Advance ``main`` to the branch's head — Iceberg's
        ``fast_forward('main', branch)``, the publish step of the
        audit-branch workflow. Requires main's log to be a PREFIX of the
        branch log (main has not moved since the fork); a diverged main
        raises, exactly like a non-fast-forward git push. O(log JSON):
        no data file is touched. The branch stays (drop it explicitly)."""
        if self.branch:
            raise ValueError("fast_forward from the main handle")
        bpath = os.path.join(self.path, f"_snapshots_{name}.json")
        if not os.path.exists(bpath):
            raise KeyError(f"no branch {name!r}")
        blog = SnapshotTable(self.path, branch=name).versions()
        mlog = self.versions()
        if len(mlog) > len(blog) or any(
            json.dumps(a, sort_keys=True) != json.dumps(b, sort_keys=True)
            for a, b in zip(mlog, blog)
        ):
            raise ValueError(
                f"main diverged from branch {name!r} since the fork — "
                "fast-forward impossible; merge the branch's changes "
                "explicitly (e.g. changes_between + merge_into)"
            )
        # CAS against the prefix check just performed: a commit racing the
        # fast-forward would otherwise be silently overwritten by the branch
        self._commit(
            blog, expected_head=mlog[-1]["version"] if mlog else 0
        )
        return blog[-1]["version"]

    def cherry_pick(self, name: str, ts: float | None = None) -> int:
        """Apply a DIVERGED branch's post-fork commits onto moved main —
        Iceberg's ``cherrypick_snapshot`` generalized to the audit-branch
        increment (the recovery path when :meth:`fast_forward` refuses
        because main moved since the fork). The branch's plain APPENDS
        compose directly (manifest-list union onto main's head — the
        manifest files are immutable and branch-name-scoped, so they are
        referenced, never copied); its pos/eq DELETE commits re-serialize
        on top of main with restamped sequence numbers (they now apply to
        everything committed before the pick, exactly Iceberg's
        commit-time sequence assignment). Anything non-composable on
        either side — a rollback, a compaction rewrite, a delete fold, a
        branch deletion vector (merged against branch-local state), files
        added with or after a branch equality delete (a branch MERGE), or
        a replaced lineage — raises :class:`CommitConflict`: nothing is
        ever silently dropped. Each picked commit lands as its own main
        commit under the CAS lock (so a conflict mid-sequence leaves the
        already-picked PREFIX applied — a consistent converged prefix,
        exactly as if only those branch commits had been picked; re-run
        after resolving to land the rest); the branch stays (drop it
        explicitly). ``ts`` stamps the picked entries (default: wall
        clock), matching every other commit API so logically-timestamped
        tables keep ``as_of`` coherent. Returns main's new head
        version."""
        if self.branch:
            raise ValueError("cherry_pick from the main handle")
        bpath = os.path.join(self.path, f"_snapshots_{name}.json")
        if not os.path.exists(bpath):
            raise KeyError(f"no branch {name!r}")
        blog = SnapshotTable(self.path, branch=name).versions()
        mlog = self.versions()

        def _key(e: dict) -> str:
            return json.dumps(e, sort_keys=True)

        fork = 0
        while (
            fork < len(blog)
            and fork < len(mlog)
            and _key(blog[fork]) == _key(mlog[fork])
        ):
            fork += 1
        if fork == len(blog):
            return mlog[-1]["version"] if mlog else 0  # branch adds nothing
        if fork == len(mlog) and fork > 0:
            return self.fast_forward(name)  # main never moved
        # Version-aligned fork detection: prefix equality under-detects
        # shared history once retention trimmed main's old entries (the
        # branch pins its own copy of them, so the raw prefixes diverge at
        # index 0). Shared history = the longest run of entries IDENTICAL
        # at the same version across every version BOTH logs retain.
        m_by_v = {e["version"]: e for e in mlog}
        fork_version = 0
        for e in blog:
            me = m_by_v.get(e["version"])
            if me is not None:
                if _key(me) != _key(e):
                    break  # true divergence: nothing above is shared
                fork_version = e["version"]
        picks = [e for e in blog if e["version"] > fork_version]
        if not picks:
            return mlog[-1]["version"]
        if fork_version == 0:
            raise CommitConflict(
                f"branch {name!r} shares no retained history with main "
                "(different table, or retention trimmed past the fork "
                "point) — cherry-pick impossible"
            )
        base = m_by_v[fork_version]
        base_keys = delete_stack_keys(base)
        # schema-tracked lineages: picked files carry the schema generation
        # they were written under; that is only meaningful on main if
        # NEITHER side evolved since the fork (a branch evolve entry would
        # otherwise dedup to an invisible no-op and be silently dropped)
        if any(e.get("schema_evolution") for e in blog if e["version"] > fork_version):
            raise CommitConflict(
                "branch history contains a schema evolution — cherry-pick "
                "cannot replay metadata-only schema commits onto moved "
                "main; evolve main directly, then pick the data commits"
            )
        # main's post-fork commits must themselves be append/delete-shaped,
        # or the branch's payload references replaced state
        for e in (e for e in mlog if e["version"] > fork_version):
            if (
                e.get("rollback_of") is not None
                or e.get("rewrite")
                or e.get("delete_rewrite")
                or e.get("schema_evolution")
                or e.get("data_dir") != base["data_dir"]
            ):
                raise CommitConflict(
                    "main rewrote history since the fork (rollback/"
                    "compaction/fold/overwrite) — the branch's commits "
                    "cannot be re-validated against it"
                )
        out = 0
        prev = base
        eq_delete_picked = False
        for e in picks:
            pm = set(prev["manifests"])
            own_m = [m for m in e["manifests"] if m not in pm]
            sp = delete_stack_keys(prev)
            own_d = [d for d in e.get("deletes", []) if _key(d) not in sp]
            removed = sp - delete_stack_keys(e)
            if (
                e.get("rollback_of") is not None
                or e.get("rewrite")
                or e.get("delete_rewrite")
                or removed
                or e.get("data_dir") != base["data_dir"]
                or any(d.get("kind") == "dv" for d in own_d)
            ):
                raise CommitConflict(
                    f"branch commit v{e['version']} is not a plain append/"
                    "pos-or-eq-delete — cherry-pick refuses (fold, rollback,"
                    " rewrite, and deletion-vector merges are branch-local)"
                )
            own_eq = any(d.get("kind") == "eq" for d in own_d)
            if own_m and (eq_delete_picked or own_eq):
                # an EQUALITY delete earlier in the pick set — or in the
                # same row-delta commit (a branch merge_into) — must not
                # apply to this commit's files, but the files keep their
                # branch-version sequence stamps while the delete is
                # restamped to the (larger) pick-time sequence — one scalar
                # sequence cannot order "after main's concurrent appends but
                # before the branch's own files". Positional deletes are
                # immune (they name fork-time files outright).
                raise CommitConflict(
                    "branch history appends AFTER an equality delete (or "
                    "in the same row-delta commit) — the restamped delete "
                    "would wrongly apply to those files; publish this "
                    "branch by fast_forward after rebasing main, or "
                    "re-apply the changes via merge_into"
                )
            eq_delete_picked = eq_delete_picked or own_eq

            def _build(fresh, own_m=own_m, own_d=own_d, e=e):
                head = fresh[-1]
                # re-run the main-side validation against the FRESH log:
                # a rollback/rewrite/fold landing between the mlog read
                # (or between picks) keeps the same data_dir, so a
                # data_dir check alone would compose onto exactly the
                # replaced state the pre-check exists to refuse
                if head.get("data_dir") != base["data_dir"] or any(
                    e2.get("rollback_of") is not None
                    or e2.get("rewrite")
                    or e2.get("delete_rewrite")
                    or e2.get("schema_evolution")
                    for e2 in fresh
                    if e2["version"] > base["version"]
                ):
                    raise CommitConflict(
                        "main rewrote history under the cherry-pick — "
                        "re-validate and retry"
                    )
                # dedup against the FRESH head: a pick whose manifests or
                # deletes main already carries (shared history retention
                # trimmed, or a re-run after a mid-sequence conflict)
                # contributes nothing and must not double-list files
                hm = set(head["manifests"])
                hk = delete_stack_keys(head)
                own_m = [m for m in own_m if m not in hm]
                own_d = [d for d in own_d if _key(d) not in hk]
                if not own_m and not own_d:
                    return None  # no-op pick: skip, no empty commit
                if own_m:
                    # picked files keep their branch-version sequence
                    # stamps (manifests are referenced, never copied), so
                    # a main-side equality delete committed after the fork
                    # with a HIGHER sequence would silently erase the
                    # picked rows at read time (_seq < dseq) even though
                    # they logically commit after it — refuse (ADVICE r11
                    # high). Checked against the fresh head so deletes
                    # landing mid-pick are caught too.
                    stamp = int(e["version"])
                    for d in head.get("deletes", []):
                        if (
                            d.get("kind") == "eq"
                            and _key(d) not in base_keys
                            and int(d.get("seq") or 0) > stamp
                        ):
                            raise CommitConflict(
                                "main committed an equality delete (seq "
                                f"{d.get('seq')}) after the fork that "
                                "would wrongly apply to the picked files "
                                f"(stamped s{stamp:05d}) — rebase by "
                                "re-applying the branch changes via "
                                "merge_into, or compact main first"
                            )
                nv = head["version"] + 1
                # both sides evolve-free since the fork (validated above),
                # so the head's current generation stamps the picked files
                return self._successor(
                    head,
                    nv,
                    f"cherry-pick {name}@v{e['version']}: "
                    f"{e.get('note') or ''}".rstrip(": "),
                    ts,
                    manifests=head["manifests"] + own_m,
                    has_appends=bool(
                        head.get("has_appends") or e.get("has_appends")
                    ),
                    deletes=[
                        *head.get("deletes", []),
                        *({**d, "seq": nv} for d in own_d),
                    ],
                )

            out = self._commit_build(_build)
            prev = e
        return out

    def drop_branch(self, name: str) -> None:
        bpath = os.path.join(self.path, f"_snapshots_{name}.json")
        if not os.path.exists(bpath):
            raise KeyError(f"no branch {name!r}")
        # commit tail first, checkpoint last: a crash in between leaves a
        # still-resolvable (shortened) branch, never a resurrected one
        # whose old tail pollutes a later create_branch of the same name
        cre = SnapshotTable(self.path, branch=name)._commit_file_re()
        for fname in os.listdir(self.path):
            if cre.fullmatch(fname):
                os.unlink(os.path.join(self.path, fname))
        os.remove(bpath)

    # -- write-audit-publish (Iceberg WAP) -----------------------------------
    def stage(
        self,
        df: DataFrame,
        stage_id: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """WRITE step of write-audit-publish: land ``df`` in a staging dir
        INVISIBLE to every reader (not in the snapshot log — reads resolve
        data files through it — and retention's sweep only reclaims
        ``v``/``d``/``m`` names, never ``stage_*``). Audit it with
        :meth:`read_staged` (run DQ expectations, row counts,
        reconciliations), then either :meth:`publish` — an O(staged files)
        commit, no rewrite — or :meth:`discard_staged`. This is Iceberg's
        WAP pattern (``spark.wap.id``): bad data never becomes a visible
        snapshot. ``stage_id`` must be caller-unique (the batch/run id);
        restaging an id replaces its previous staging atomically-enough for
        the single-writer protocol."""
        if not stage_id or "/" in stage_id:
            raise ValueError("stage_id must be a non-empty path-safe token")
        final = os.path.join(self.path, f"stage_{stage_id}")
        tmp = final + ".tmp"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        if partition_by:
            with open(os.path.join(final, "_partition_by.json"), "w") as fh:
                json.dump(list(partition_by), fh)
        return stage_id

    #: arrow physical type → the tracked-schema primitive name it satisfies.
    #: Conservative: arrow types with no clean mapping (nested, dictionary,
    #: extension) skip the type comparison and rely on the name gate.
    _ARROW_PRIM = {
        "bool": "boolean",
        "int8": "int",
        "int16": "int",
        "int32": "int",
        "int64": "long",
        "float": "float",
        "halffloat": None,
        "double": "double",
        "string": "string",
        "large_string": "string",
        "binary": "binary",
        "large_binary": "binary",
        "date32[day]": "date",
    }

    def _check_staged_schema(
        self, staged: str, cur: dict, partition_by: "list[str] | None"
    ) -> None:
        """Gate a staged dir's physical schema against the tracked table
        schema by NAME and (where the arrow type maps cleanly to a tracked
        primitive) TYPE — a staged batch with matching names but drifted
        types (int files on a widened-to-long table) must not be stamped
        with the current schema generation and read without projection
        (ADVICE r12). Driver-side footer read only; no Spark session."""
        arrow = _staged_schema(staged)
        fields = cur["schemas"][str(cur["schema_id"])]["fields"]
        phys = set(arrow.names)
        expect = {f["name"] for f in fields}
        if phys | set(partition_by or []) != expect:
            raise ValueError(
                "staged schema drifts from the tracked table "
                "schema — evolve_schema() first, or restage a "
                "migrated batch"
            )
        tracked = {
            f["name"]: f["type"] for f in fields if isinstance(f["type"], str)
        }
        drift = []
        for name in arrow.names:
            want = tracked.get(name)
            if want is None:
                continue  # nested tracked type: name gate only
            got = self._ARROW_PRIM.get(str(arrow.field(name).type))
            if got is None:
                if str(arrow.field(name).type).startswith("decimal"):
                    got = str(arrow.field(name).type).replace("decimal128", "decimal")
                    got = got.replace(", ", ",")
                elif str(arrow.field(name).type).startswith("timestamp"):
                    got = "timestamp"
                else:
                    continue  # unmappable arrow type: name gate only
            # staged files must match the CURRENT schema exactly, same as
            # the append path's name-and-type gate
            if got != want:
                drift.append((name, got, want))
        if drift:
            raise ValueError(
                "staged file types drift from the tracked table schema "
                f"(mismatches: {sorted(drift)}) — evolve_schema() first, "
                "or restage a migrated batch"
            )

    def read_staged(self, spark: SparkSession, stage_id: str) -> DataFrame:
        """AUDIT step: the staged data as a DataFrame (readable only by id —
        normal reads cannot see it)."""
        final = os.path.join(self.path, f"stage_{stage_id}")
        if not os.path.isdir(final):
            raise FileNotFoundError(f"no staged write {stage_id!r}")
        return spark.read.parquet(final)

    def publish(
        self,
        stage_id: str,
        note: str | None = None,
        ts: float | None = None,
        mode: str = "overwrite",
    ) -> int:
        """PUBLISH step: promote the staged dir to the next snapshot. The
        data is not rewritten and was already validated in place.

        ``mode="overwrite"`` (default): the staged data becomes the ENTIRE
        new snapshot — an O(1) directory rename + manifest + log commit
        (a fresh lineage, like :meth:`write`, keeping the table's sort
        order when the staged data has its columns).

        ``mode="append"``: the audited rows are ADDED to the current
        snapshot through :meth:`append`'s commit — staged files move into
        the lineage dir under a fresh data-sequence prefix, so prior rows
        survive, carried equality deletes (all strictly older) cannot touch
        the published rows, a concurrent append is rebased onto rather
        than refused, and the cost is O(staged files). This is the
        more common Iceberg WAP shape: audit a day's increment, then graft
        it onto the table. The staged partition spec must match the
        lineage's."""
        staged = os.path.join(self.path, f"stage_{stage_id}")
        if not os.path.isdir(staged):
            raise FileNotFoundError(f"no staged write {stage_id!r}")
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unknown publish mode {mode!r}")
        part_meta = os.path.join(staged, "_partition_by.json")
        partition_by = None
        if os.path.exists(part_meta):
            with open(part_meta) as fh:
                partition_by = json.load(fh)
            os.remove(part_meta)
        entries = self.versions()
        if mode == "append" and entries:
            cur = entries[-1]
            if (partition_by or None) != (cur.get("partition_by") or None):
                raise ValueError(
                    f"staged partition spec {partition_by} does not match "
                    f"the table's {cur.get('partition_by')} — append "
                    "publish requires matching layouts"
                )
            if _parquet_dir_rows(staged) == 0:
                shutil.rmtree(staged, ignore_errors=True)
                return cur["version"]  # no empty commits, as append()
            if "schema_id" in cur:
                self._check_staged_schema(staged, cur, partition_by)
            # a sorted lineage's sort spec is CARRIED, not enforced: publish
            # stays O(staged files), so the stager clusters the increment
            return self._commit_delta(
                cur, staged, None, note or f"publish {stage_id} (append)", ts
            )
        cur = entries[-1] if entries else None
        if cur is not None and "schema_id" in cur:
            # a tracked table must not silently lose its schema tracking
            # through an overwrite publish (table_schema() would go None and
            # the append drift-gate with it — ADVICE r12): gate the staged
            # files against the tracked schema exactly like the append path,
            # then carry the tracking onto the fresh lineage.
            self._check_staged_schema(staged, cur, partition_by)
        # the replaced table's sort order carries onto the fresh lineage (so
        # later appends keep clustering) while the staged data has every
        # sort column — always so on a tracked table, gated just above
        sort_by = cur.get("sort_by") if cur is not None else None
        if sort_by and not set(sort_by) <= (
            set(partition_by or []) | set(_staged_schema(staged).names)
        ):
            sort_by = None
        return self._new_lineage(
            entries,
            staged,
            note or f"publish {stage_id}",
            ts,
            partition_by=partition_by,
            sort_by=sort_by,
            tracking=cur,
        )

    def discard_staged(self, stage_id: str) -> None:
        staged = os.path.join(self.path, f"stage_{stage_id}")
        if not os.path.isdir(staged):
            raise FileNotFoundError(f"no staged write {stage_id!r}")
        shutil.rmtree(staged)

    def plan_scan(
        self,
        version: int | None = None,
        as_of: float | None = None,
        where: dict[str, tuple[object, object]] | None = None,
        eq: dict[str, object] | None = None,
    ) -> tuple[list[str], int]:
        """Scan PLANNING for one snapshot: (data files the scan must read,
        total data files). Iceberg prunes manifests before applying
        deletes; here the manifest's stats are the parquet footers
        (`footer_stats.prune_files_multi` — conservative: a file without
        provable non-overlap is kept). The candidate set is the snapshot's
        manifest-listed files. ``where`` maps column → (lo, hi) range
        bounds, either bound None for open-ended. ``eq`` maps column →
        exact value and prunes by the PER-FILE BLOOM FILTERS (:meth:`analyze_bloom`) — the point-lookup
        path where range bounds prune nothing; files a blob never saw
        (later appends, never-analyzed tables) are kept, so the plan is
        always conservative."""
        from iceberg_evolve_spark.sources.footer_stats import (
            prune_files_multi,
        )

        entry = self._resolve(version, as_of)
        data_path = os.path.join(self.path, entry["data_dir"])
        files = self._entry_abs_files(entry)
        rel_sids = self._rel_schema_map(entry) if where else None
        if not where:
            kept = files
            total = len(kept)
        elif rel_sids is None:
            kept, total = prune_files_multi(data_path, where, files=files)
        else:
            kept, total = self._plan_scan_generations(
                data_path, entry, files, rel_sids, where
            )
        for col, value in (eq or {}).items():
            blob = self._bloom_blob(entry, col)
            if blob is None:
                continue
            covered = self._bloom_covered(blob)
            if covered is None:
                continue  # coverage unreconstructable -> keep everything
            from iceberg_evolve_spark.functions.bloom import WORD_BITS

            probe = self._bloom_probe(
                blob,
                value,
                rels=[os.path.relpath(f, data_path) for f in kept],
            )
            if probe is None:
                continue  # filter words unreadable -> keep everything
            ps, words = probe

            def _hit(rel: str) -> bool:
                # a covered file missing any probed bit is provably
                # value-free (covered files with NO keys have no rows at
                # all — same conclusion via the .get default)
                return all(
                    words.get((rel, p // WORD_BITS), 0) & (1 << (p % WORD_BITS))
                    for p in ps
                )

            kept = [
                f
                for f in kept
                if os.path.relpath(f, data_path) not in covered
                or _hit(os.path.relpath(f, data_path))
            ]
        return kept, total

    def _plan_scan_generations(
        self,
        data_path: str,
        entry: dict,
        files: list[str],
        rel_sids: "dict[str, int]",
        where: dict,
    ) -> tuple[list[str], int]:
        """Footer pruning across schema generations: the caller's range
        bounds name CURRENT columns, but an old generation's footers carry
        the PHYSICAL names it was written with — so each generation's
        bounds are translated through the FIELD ID before pruning (without
        this, renaming a sort column would silently de-prune every
        historical file). A generation that predates a bounded column
        surfaces that column's initial-default (or NULL) on every row, so
        the range evaluates on the constant: out-of-range (or NULL) prunes
        the WHOLE generation, in-range just removes that column's pruning
        power. Incomparable default/bound types keep the generation
        (conservative, never wrong)."""
        from iceberg_evolve_spark.sources.footer_stats import (
            prune_files_multi,
        )

        cur_sid = int(entry["schema_id"])
        cur_fields = {
            f["name"]: f for f in entry["schemas"][str(cur_sid)]["fields"]
        }
        groups: dict[int, list[str]] = {}
        for f in files:
            rel = os.path.relpath(f, data_path)
            groups.setdefault(rel_sids.get(rel, cur_sid), []).append(f)
        kept: list[str] = []
        total = 0
        for sid in sorted(groups):
            gfiles = groups[sid]
            total += len(gfiles)
            gen_by_id = {
                f["id"]: f for f in entry["schemas"][str(sid)]["fields"]
            }
            ranges: dict[str, tuple[object, object]] = {}
            group_dead = False
            for col, (lo, hi) in where.items():
                cf = cur_fields.get(col)
                if cf is None:
                    continue  # unknown column: no pruning power, keep
                gf = gen_by_id.get(cf["id"])
                if gf is None:
                    default = cf.get("initial-default")
                    if default is None:
                        group_dead = True  # NULL never satisfies a range
                        break
                    try:
                        if (lo is not None and default < lo) or (
                            hi is not None and default > hi
                        ):
                            group_dead = True
                            break
                    except TypeError:
                        pass  # incomparable: keep conservatively
                    continue  # constant in range: column prunes nothing
                ranges[gf["name"]] = (lo, hi)
            if group_dead:
                continue  # provably no matching rows in this generation
            if ranges:
                gk, _ = prune_files_multi(data_path, ranges, files=gfiles)
                kept.extend(gk)
            else:
                kept.extend(gfiles)
        return sorted(kept), total

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of: float | None = None,
        where: dict[str, tuple[object, object]] | None = None,
        eq: dict[str, object] | None = None,
    ) -> DataFrame:
        """Read the latest snapshot, a pinned ``version``, or the snapshot
        current ``as_of`` a timestamp (time travel). Snapshots carrying
        row-level delete files are merge-on-read: the delete files are
        subtracted in the same scan by one anti-join per delete KIND, not
        per file (size-guarded broadcast; see :meth:`_apply_deletes`).

        ``where`` ({column: (lo, hi)}) turns the read into a PLANNED range
        scan: data files are pruned by footer stats FIRST (so the delete
        anti-joins run over the pruned subset, as Iceberg prunes manifests
        before applying deletes), and the residual range predicate is applied
        for in-file rows outside the range — pruning keeps files on overlap,
        so results are identical to the unpruned scan, just fewer files
        read."""
        from pyspark.sql import functions as F

        entry = self._resolve(version, as_of)
        if where or eq:
            files, _total = self.plan_scan(
                version=entry["version"], where=where, eq=eq
            )
            if not files:
                # schema-stable empty relation: scan plan proves no file can
                # contain in-range rows
                return self._base_scan(
                    spark, entry, self._entry_abs_files(entry)
                ).filter(F.lit(False))
        else:
            files = self._entry_abs_files(entry)
        if entry.get("deletes"):
            df = self._read_with_pos(spark, entry, files=files)
            df = df.drop("_file", "_pos", "_seq")
        else:
            df = self._base_scan(spark, entry, files)
        if where:
            for c, (lo, hi) in where.items():
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(hi))
        for c, v in (eq or {}).items():
            # residual exact predicate: bloom pruning keeps false-positive
            # files, so results equal the unpruned scan
            df = df.filter(F.col(c) == F.lit(v))
        return df


    # -- metadata tables (Iceberg's table.snapshots / table.files) ----------

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The snapshot history as a queryable DataFrame — Iceberg's
        ``SELECT * FROM tbl.snapshots``. One row per log entry:
        (version, data_dir, ts, note, n_delete_files). Metadata-sized at any
        data volume (rows = snapshots, not files or records)."""
        entries = self.versions()
        rows = [
            (
                int(e["version"]),
                e["data_dir"],
                float(e["ts"]),
                e.get("note"),
                len(e.get("deletes", [])),
            )
            for e in entries
        ]
        return spark.createDataFrame(
            rows,
            "version int, data_dir string, ts double, note string, "
            "n_delete_files int",
        )

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """Named references as a relation — Iceberg's ``tbl.refs``: every
        tag plus the implicit ``main`` head, each with the version it pins
        and that snapshot's commit timestamp. Metadata-sized."""
        entries = self.versions()
        by_version = {e["version"]: e for e in entries}
        rows = []
        if entries:
            head = entries[-1]
            rows.append(
                ("main", "branch", int(head["version"]), float(head["ts"]))
            )
        for name, v in sorted(self.tags().items()):
            e = by_version.get(v)
            rows.append(
                (name, "tag", int(v), float(e["ts"]) if e else None)
            )
        for name in sorted(self.branches()):
            blog = SnapshotTable(self.path, branch=name).versions()
            if blog:
                rows.append(
                    (name, "branch", int(blog[-1]["version"]),
                     float(blog[-1]["ts"]))
                )
        return spark.createDataFrame(
            rows, "name string, type string, version int, ts double"
        )

    def manifests_df(self, spark: SparkSession) -> DataFrame:
        """Manifest files as a relation — Iceberg's ``tbl.manifests``: one
        row per manifest file on disk with the commit version it records,
        its listed-file count, total listed bytes, and how many surviving
        snapshots reference it. The commit-plane audit view: manifest
        growth IS the metadata cost of an append cadence, and
        ``referenced_by == 0`` rows are what retention will sweep.
        Cost: one JSON read per manifest — never touches data."""
        refcount: dict[str, int] = {}
        for e in self.versions():
            for mname in e["manifests"]:
                refcount[mname] = refcount.get(mname, 0) + 1
        rows = []
        for name in sorted(os.listdir(self.path)):
            m = re.fullmatch(r"m(\d{5})(-[A-Za-z0-9_\-]+)?\.json", name)
            if not m:
                continue
            with open(os.path.join(self.path, name)) as fh:
                listed = json.load(fh)["files"]
            # listed paths are lineage-relative; size them through the most
            # recent lineage dir that holds them (manifest names embed no
            # lineage, but files are unique within one, and every surviving
            # reference shares the dir)
            total = 0
            for e in self.versions():
                if name in e["manifests"]:
                    dd = os.path.join(self.path, e["data_dir"])
                    total = sum(
                        os.path.getsize(os.path.join(dd, rel))
                        for rel in listed
                        if os.path.exists(os.path.join(dd, rel))
                    )
                    break
            rows.append(
                (
                    name,
                    int(m.group(1)),
                    len(listed),
                    int(total),
                    int(refcount.get(name, 0)),
                )
            )
        return spark.createDataFrame(
            rows,
            "manifest string, commit_version int, n_files int, "
            "listed_bytes bigint, referenced_by int",
        )

    def files_df(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of: float | None = None,
        stats_cols: list[str] | None = None,
    ) -> DataFrame:
        """Per-file metadata of one snapshot — Iceberg's ``tbl.files``: data
        files AND delete files, each with its footer row count, byte size,
        and (for ``stats_cols``) per-file min/max BOUNDS rendered as strings
        (Iceberg stores bounds as serialized bytes; string rendering keeps
        one schema across column types — bounds, not exact values, is also
        the honest contract for possibly-truncated BYTE_ARRAY stats, same
        discipline as ``footer_stats.prune_files``).

        Cost: one footer read per file, driver-side — the planning-layer
        price, never a data scan. Data files are the snapshot's
        manifest-listed files (so crash orphans in the shared lineage dir
        never appear). This is the relation a scan planner joins against
        (file skipping = a filter on these bounds)."""
        entry = self._resolve(version, as_of)
        stats_cols = stats_cols or []
        base_seq = int(entry.get("base_seq", entry["version"]))

        def _rows_for(
            rel_files: list[str],
            dirname: str,
            content: str,
            dir_seq: int | None = None,
        ) -> list[tuple]:
            out = []
            for rel in sorted(rel_files):
                fp = os.path.join(self.path, dirname, rel)
                # data sequence number (Iceberg files-table
                # data_sequence_number): appended files carry it in the
                # s{seq}- name prefix, base files inherit the lineage base;
                # delete files report their commit sequence
                seq = dir_seq if dir_seq is not None else _rel_seq(rel, base_seq)
                n_rows, footer = read_footer(fp, stats_cols)
                bounds = []
                for c in stats_cols:
                    fc = footer[c]
                    if fc is None or fc.bounds is None:
                        bounds.extend([None, None])
                    else:
                        bounds.extend(str(b) for b in fc.bounds)
                out.append(
                    (
                        content,
                        os.path.join(dirname, rel),
                        int(n_rows),
                        int(os.path.getsize(fp)),
                        int(seq),
                        *bounds,
                    )
                )
            return out

        rows = _rows_for(self._entry_files(entry), entry["data_dir"], "data")
        for d in entry.get("deletes", []):
            drels = parquet_files(os.path.join(self.path, d["dir"]))
            rows.extend(
                _rows_for(drels, d["dir"], f"{d['kind']}-delete", d.get("seq"))
            )
        bound_schema = "".join(
            f", {c}_lower string, {c}_upper string" for c in stats_cols
        )
        return spark.createDataFrame(
            rows,
            "content string, file string, n_rows bigint, size_bytes bigint, "
            "seq bigint" + bound_schema,
        )

    # -- table statistics (Iceberg's Puffin stats files) ---------------------
    def _sidecar_prefix(self) -> str:
        """Branch-scoped sidecar naming: snapshot logs and manifests are
        branch-scoped, so version numbers diverge between main and a
        branch — an unscoped ``_stats/{version}.json`` written from a
        branch handle would overwrite main's stats for that version
        (wrong CBO estimates; stale bloom coverage)."""
        return f"{self.branch}-" if self.branch else ""

    def _stats_path(self, version: int) -> str:
        return os.path.join(
            self.path, "_stats", f"{self._sidecar_prefix()}{version:05d}.json"
        )

    def analyze(
        self,
        spark: SparkSession,
        cols: list[str],
        version: int | None = None,
        rsd: float = 0.05,
    ) -> dict:
        """ANALYZE TABLE for one snapshot: per-column NDV estimate (Spark's
        JVM-side HyperLogLog++ via ``approx_count_distinct``), null count,
        and min/max, computed in ONE aggregation pass over the snapshot
        read (deletes applied — the stats describe what a query sees).
        Persisted next to the table (``_stats/{version}.json``), keyed by
        snapshot version so time travel has matching statistics — Iceberg's
        Puffin statistics files, the input a cost-based planner consumes
        for join ordering and size estimation. Returns the stats dict:
        ``{col: {ndv, n_nulls, min, max}, "_n_rows": N}``. Cost: one scan;
        re-analyzing a version overwrites its file (idempotent)."""
        from pyspark.sql import functions as F

        entry = self._resolve(version, None)
        df = self.read(spark, version=entry["version"])
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"columns {missing} not in table {df.columns}")
        aggs = [F.count(F.lit(1)).alias("_n")]
        # rsd = HLL++ target relative standard deviation (more registers,
        # tighter NDV, still one pass; Spark's default is 0.05)
        for i, c in enumerate(cols):
            aggs.append(
                F.approx_count_distinct(F.col(c), rsd).alias(f"_ndv{i}")
            )
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"_nul{i}")
            )
            aggs.append(F.min(F.col(c)).alias(f"_lo{i}"))
            aggs.append(F.max(F.col(c)).alias(f"_hi{i}"))
        row = df.agg(*aggs).first()
        stats: dict = {"_n_rows": int(row["_n"])}
        for i, c in enumerate(cols):
            stats[c] = {
                "ndv": int(row[f"_ndv{i}"]),
                "n_nulls": int(row[f"_nul{i}"] or 0),
                "min": None if row[f"_lo{i}"] is None else str(row[f"_lo{i}"]),
                "max": None if row[f"_hi{i}"] is None else str(row[f"_hi{i}"]),
            }
        os.makedirs(os.path.join(self.path, "_stats"), exist_ok=True)
        tmp = self._stats_path(entry["version"]) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(stats, fh, indent=1)
        os.replace(tmp, self._stats_path(entry["version"]))
        return stats

    def stats(self, version: int | None = None) -> dict | None:
        """Persisted statistics of a snapshot (see :meth:`analyze`), or
        None if that version was never analyzed — metadata read only."""
        entry = self._resolve(version, None)
        try:
            with open(self._stats_path(entry["version"])) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def stats_df(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The analyzed statistics as a queryable relation (one row per
        column) — what a planner joins against to cost a query without
        touching data. Raises if the snapshot was never analyzed."""
        entry = self._resolve(version, None)
        st = self.stats(version=entry["version"])
        if st is None:
            raise LookupError(
                f"snapshot v{entry['version']} has no statistics — run "
                "analyze() first"
            )
        n = st.pop("_n_rows")
        rows = [
            (c, int(n), int(v["ndv"]), int(v["n_nulls"]), v["min"], v["max"])
            for c, v in st.items()
        ]
        return spark.createDataFrame(
            rows,
            "column string, n_rows bigint, ndv bigint, n_nulls bigint, "
            "min string, max string",
        )

    # -- per-file Bloom filters (parquet column-index blooms / Puffin blobs) --
    def _bloom_name(self, version: int, col: str) -> str:
        return f"{self._sidecar_prefix()}{version:05d}-{col}"

    def _bloom_path(self, version: int, col: str) -> str:
        return os.path.join(
            self.path, "_bloom", self._bloom_name(version, col) + ".json"
        )

    def analyze_bloom(
        self,
        spark: SparkSession,
        cols: list[str],
        version: int | None = None,
        m_bits: int = 1 << 15,
        k: int = 5,
    ) -> dict:
        """PER-FILE BLOOM FILTERS for point-lookup file skipping — the
        pruning tool where min/max footer bounds prune NOTHING (high-NDV
        identifier columns in unsorted layouts: every file's [min, max]
        spans the whole key space). Parquet's column-index bloom filters /
        an Iceberg Puffin blob, maintained as snapshot-versioned metadata:
        one scan per call builds every requested column's per-file filter
        (explode k portable bit positions, ``bit_or`` words grouped by
        file — the shuffle carries filter words, not keys), persisted as
        sparse word maps under ``_bloom/``.

        The key is the column's STRING CAST (replayed exactly driver-side
        at probe time), so string and integral columns are supported.
        Because data files are immutable and never renamed within a
        lineage, a filter stays valid for the files it covers across later
        snapshots — :meth:`plan_scan` probes the newest blob at/below the
        scanned version and keeps (never probes) files the blob has not
        seen, e.g. later appends. False positives only cost an unpruned
        file; false negatives cannot happen.

        Storage is DISTRIBUTED (round 11): the per-file filter words are
        written by the EXECUTORS as a parquet sidecar
        (``_bloom/{version}-{col}.words/``) range-sorted by word index,
        and the JSON blob holds only KB of metadata (parameters + the
        analyzed entry's manifest names, from which coverage is
        recomputed). The driver never materializes the filter set — at 1M
        files x 2^20 bits the old monolithic blob was multi-GB of driver
        JSON; now a probe reads exactly its k word indexes back through
        parquet row-group pruning."""
        from pyspark.sql import functions as F

        from iceberg_evolve_spark.functions.bloom import (
            WORD_BITS,
            _positions,
        )

        entry = self._resolve(version, None)
        raw = self._read_with_pos(spark, {**entry, "deletes": []})
        out: dict = {}
        os.makedirs(os.path.join(self.path, "_bloom"), exist_ok=True)
        for col in cols:
            if col not in raw.columns:
                raise ValueError(f"column {col!r} not in table")
            key = F.col(col).cast("string")
            pos = F.explode(
                F.array(*_positions(key, col, k, m_bits))
            ).alias("pos")
            words = (
                raw.filter(F.col(col).isNotNull())
                .select("_file", pos)
                .select(
                    "_file",
                    (F.col("pos") / WORD_BITS).cast("int").alias("w"),
                    F.pow(
                        F.lit(2.0), (F.col("pos") % WORD_BITS).cast("int")
                    )
                    .cast("bigint")
                    .alias("m"),
                )
                .groupBy("_file", "w")
                .agg(F.bit_or("m").alias("word"))
            )
            # uuid-unique sidecar dir per analysis run: re-analyzing the
            # same version/col must never rewrite the words a concurrent
            # probe is reading mid-scan (ADVICE r11 low) — the fresh blob
            # json swaps in atomically below, and the superseded dir
            # (referenced by no blob) is reclaimed by expire's sweep
            name = self._bloom_name(entry["version"], col)
            words_name = f"{name}-{uuid.uuid4().hex[:8]}.words"
            words_dir = os.path.join(self.path, "_bloom", words_name)
            # executors write; global range-sort on w puts each word index
            # in O(1) row groups so a point probe reads k index slices, not
            # the table's whole filter set. Explicit partition count: the
            # default shuffle partitioning would shatter a KB-scale filter
            # into dozens of near-empty part files whose per-file open
            # cost dwarfs the k row-group reads the probe pays for
            n_parts = max(1, min(32, (m_bits // WORD_BITS) // 8192))
            # persist the aggregated words before the range repartition:
            # repartitionByRange runs a SAMPLING job to pick bounds, which
            # would otherwise recompute the whole scan→explode→bit_or
            # subtree once for the sample and again for the write
            words = words.persist()
            try:
                (
                    words.repartitionByRange(n_parts, F.col("w"))
                    .sortWithinPartitions("w", "_file")
                    .write.mode("overwrite")
                    .parquet(words_dir)
                )
            finally:
                words.unpersist()
            blob = {
                "m_bits": int(m_bits),
                "k": int(k),
                "seed": col,
                "data_dir": entry["data_dir"],
                "version": int(entry["version"]),
                "words": words_name,
            }
            if self.branch:
                blob["branch"] = self.branch
            # coverage = the analyzed entry's manifest-listed files,
            # RECOMPUTED at probe time from the (immutable, retained-while-
            # referenced) manifest files — never a driver-held list of
            # every file
            blob["manifests"] = sorted(entry["manifests"])
            # words parquet lands BEFORE the json that references it: a
            # crash in between leaves an orphan .words dir (swept by
            # expire_snapshots), never a blob pointing at nothing
            tmp = self._bloom_path(entry["version"], col) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(blob, fh)
            os.replace(tmp, self._bloom_path(entry["version"], col))
            out[col] = blob
        return out

    def _bloom_blob(self, entry: dict, col: str) -> dict | None:
        """Newest persisted bloom blob for ``col`` at/below the entry's
        version, same lineage and same branch scope — None when never
        analyzed."""
        bdir = os.path.join(self.path, "_bloom")
        if not os.path.isdir(bdir):
            return None
        pre = re.escape(self._sidecar_prefix())
        best = None
        for name in os.listdir(bdir):
            m = re.fullmatch(rf"{pre}(\d{{5}})-{re.escape(col)}\.json", name)
            if m and int(m.group(1)) <= entry["version"]:
                best = max(best or 0, int(m.group(1)))
        if not best:
            return None
        with open(self._bloom_path(best, col)) as fh:
            blob = json.load(fh)
        return blob if blob.get("data_dir") == entry["data_dir"] else None

    def _bloom_covered(self, blob: dict) -> set[str] | None:
        """Lineage-relative files the blob's analysis saw, recomputed from
        the analyzed entry's manifest names — or None when coverage can no
        longer be reconstructed (manifests expired), in which case the
        caller must keep every candidate (conservative, never wrong)."""
        covered: set[str] = set()
        for mname in blob["manifests"]:
            try:
                with open(os.path.join(self.path, mname)) as fh:
                    covered.update(json.load(fh)["files"])
            except (FileNotFoundError, json.JSONDecodeError):
                return None
        return covered

    def _bloom_probe(
        self, blob: dict, value, rels: "list[str] | None" = None
    ) -> "tuple[list[int], dict] | None":
        """One point probe against the distributed words sidecar: the k
        bit positions of ``value`` plus ``{(file, word_idx): word}`` for
        EXACTLY those word indexes — a parquet row-group-pruned read of
        O(k) index slices, never the whole filter set. When the caller's
        candidate set is already small (``rels``, e.g. after range
        pruning), the read narrows to those files' rows too.

        Returns None when the filter words cannot be read — a blob with no
        ``words`` sidecar (pre-round-11 monolithic format) or a sidecar
        torn away under the probe (concurrent expire / crashed
        re-analyze). The planner then keeps every candidate file: a bloom
        filter may only ever PRUNE, never turn a read into a failure
        (ADVICE r11 medium)."""
        import hashlib

        import pyarrow as pa_lib
        import pyarrow.dataset as ds

        from iceberg_evolve_spark.functions.bloom import WORD_BITS
        from iceberg_evolve_spark.functions.hashing import SEP

        if "words" not in blob:
            return None
        m_bits, k, seed = blob["m_bits"], blob["k"], blob["seed"]
        ps = []
        for i in range(k):
            s = f"{value}{SEP}bloom{seed}{SEP}{i}"
            ps.append(
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % m_bits
            )
        ws = sorted({p // WORD_BITS for p in ps})
        flt = ds.field("w").isin(ws)
        if rels is not None and len(rels) <= 1024:
            flt = flt & ds.field("_file").isin(rels)
        try:
            dset = ds.dataset(
                os.path.join(self.path, "_bloom", blob["words"])
            )
            tbl = dset.to_table(filter=flt)
        except (FileNotFoundError, OSError, pa_lib.ArrowInvalid):
            return None
        wordmap = {
            (f, int(w)): int(word)
            for f, w, word in zip(
                tbl.column("_file").to_pylist(),
                tbl.column("w").to_pylist(),
                tbl.column("word").to_pylist(),
            )
        }
        return ps, wordmap

    def partition_stats_df(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """PARTITION STATISTICS (Iceberg's partition statistics files): one
        row per partition of one snapshot — data file/row/byte totals plus
        the positional-delete pressure on that partition (pos-delete records
        and deletion-vector cardinalities, attributed by the data files they
        name). This is the relation partition-level planning reads: which
        partitions are delete-heavy (compact them first), which are skewed,
        what a partition-pruned scan will actually touch.

        Cost: manifests + one footer read per data file + the (small)
        delete sidecars' index columns — metadata-plane, driver-side, never
        a data scan; exactly what Iceberg's partition-stats writer computes
        from its manifests. EQUALITY deletes are key- not file-scoped, so
        their row impact is unattributable without a scan: they are
        reported as the table-wide ``eq_delete_files`` count on every row
        (the conservative planner reading), never folded into
        ``delete_record_count``. Unpartitioned snapshots yield one row with
        ``partition = ''``."""
        from collections import Counter, defaultdict

        import pyarrow.parquet as pq

        entry = self._resolve(version, as_of)
        ddir = os.path.join(self.path, entry["data_dir"])
        rels = self._entry_files(entry)
        n_files: dict[str, int] = defaultdict(int)
        n_rows: dict[str, int] = defaultdict(int)
        n_bytes: dict[str, int] = defaultdict(int)
        for rel in rels:
            part = os.path.dirname(rel)
            fp = os.path.join(ddir, rel)
            n_files[part] += 1
            n_rows[part] += pq.ParquetFile(fp).metadata.num_rows
            n_bytes[part] += os.path.getsize(fp)
        del_rows: Counter = Counter()
        n_eq = 0
        for d in entry.get("deletes", []):
            if d["kind"] == "eq":
                n_eq += 1
                continue
            if d["kind"] == "dv":
                named, cards = self._delete_columns(d, ["_file", "card"])
            else:
                (named,) = self._delete_columns(d, ["_file"])
                cards = [1] * len(named)
            for f, c in zip(named, cards):
                del_rows[os.path.dirname(f)] += int(c)
        rows = [
            (
                part,
                int(n_files[part]),
                int(n_rows[part]),
                int(n_bytes[part]),
                int(del_rows.get(part, 0)),
                int(n_eq),
            )
            for part in sorted(n_files)
        ]
        return spark.createDataFrame(
            rows,
            "partition string, data_file_count bigint, data_row_count "
            "bigint, data_bytes bigint, delete_record_count bigint, "
            "eq_delete_files bigint",
        )

    def changes_between(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int,
        allow_rewrite_boundary: bool = False,
    ) -> DataFrame:
        """CHANGELOG SCAN (Iceberg's ``create_changelog_view``): the NET
        row-level changes between two snapshots of one lineage, as the
        table's rows plus a ``_change_type`` column ('insert' / 'delete').
        Computed from the MANIFESTS, never a value-level diff of two full
        reads:

        * **inserts** — rows of the ``to`` snapshot whose data file carries
          a sequence number > ``from_version`` (appended after ``from`` and
          still live at ``to``; rows both appended and deleted inside the
          range never appear);
        * **deletes** — rows live at ``from`` hit by a delete file committed
          in ``(from, to]`` (a semi-join of the ``from`` read against ONLY
          the NEW delete files and vector — every new delete's sequence
          exceeds every ``from``-live row's, so the sequence rule reduces
          to membership).
          A row hit by several new delete files is emitted once (identity =
          its (file, position)).

        Cost: the ``to`` read (which an incremental consumer wants anyway)
        + one semi-join per KIND of new delete over the ``from`` read (see
        :meth:`_apply_deletes`) — O(new changes + one scan), independent of
        how many older snapshots or new delete files exist.

        A compaction, full rewrite, or rollback inside ``(from, to]`` makes
        file-level attribution meaningless, detected four ways (entry
        markers ``rewrite``/``rollback_of``, a base-sequence change, a
        delete file or manifest PRESENT at ``from`` but gone at ``to`` —
        membership, not counts, so a rollback hiding behind equal lengths is
        still caught). Such ranges raise — unless
        ``allow_rewrite_boundary=True``, which falls back to the VALUE-LEVEL
        net diff (``exceptAll`` both ways: two reads + one shuffle each,
        duplicate multiplicities respected) so incremental consumers are
        never stranded by a maintenance rewrite; the fallback cannot
        attribute a same-valued delete+insert pair, which is exactly the
        'net changes' contract."""
        from pyspark.sql import functions as F

        if from_version > to_version:
            raise ValueError("from_version must be <= to_version")
        entries = self.versions()
        efrom = self._entry_for(entries, from_version)
        eto = self._entry_for(entries, to_version)

        boundary: str | None = None
        for e in entries:
            if from_version < e["version"] <= to_version:
                if e.get("rollback_of") is not None:
                    boundary = f"rollback at v{e['version']}"
                    break
                if e.get("rewrite"):
                    boundary = f"compaction rewrite at v{e['version']}"
                    break
        if boundary is None and eto.get("base_seq") != efrom.get("base_seq"):
            boundary = "full rewrite (new lineage) in range"
        from_stack, to_stack = delete_stack_keys(efrom), delete_stack_keys(eto)
        lost = [
            d
            for d in efrom.get("deletes", [])
            if d["kind"] != "dv"
            and json.dumps(d, sort_keys=True) not in to_stack
        ]
        rewrote_deletes = any(
            e.get("delete_rewrite")
            for e in entries
            if from_version < e["version"] <= to_version
        )
        if boundary is None and lost and not rewrote_deletes:
            # membership, not len(): a rollback can REPLACE delete files
            # without shrinking the count (ADVICE r9). A delete_rewrite
            # commit legitimately retires pos/eq files into a vector —
            # rollbacks remain caught by their markers and the manifest
            # membership check, and the vector below stays exact across the
            # rewrite (its over-inclusive pairs are filtered by the semi-join
            # against the from-side LIVE rows).
            boundary = "delete files removed in range (rollback)"
        # deletion vectors legitimately REPLACE each other — but only along
        # the supersede chain (each new vector is a committed superset of
        # the old). A vector outside the chain, or one that vanished, is a
        # rollback this scan cannot attribute.
        dv_from = self._dv_entry(efrom)
        dv_to = self._dv_entry(eto)
        if boundary is None and dv_from is not None:
            if dv_to is None or (
                dv_to["dir"] != dv_from["dir"]
                and dv_from["dir"] not in dv_to.get("supersedes", [])
            ):
                boundary = (
                    "deletion vector replaced outside its supersede chain "
                    "(rollback)"
                )
        if boundary is None and not set(efrom["manifests"]) <= set(
            eto["manifests"]
        ):
            boundary = "manifest set shrank in range (rollback/rewrite)"
        if boundary is None and efrom.get("schema_id") != eto.get(
            "schema_id"
        ):
            # a schema evolution in range: the from side reads under the
            # old schema, the to side under the new — file-attributed rows
            # cannot be emitted under one coherent schema. Surfaced
            # explicitly; the value-level fallback projects the from side
            # forward by field id.
            boundary = (
                f"schema evolution in range (schema id "
                f"{efrom.get('schema_id')} -> {eto.get('schema_id')})"
            )
        if boundary is not None:
            if not allow_rewrite_boundary:
                raise ValueError(
                    f"changelog across a rewrite/compaction/rollback "
                    f"boundary is not attributable file-wise ({boundary}) — "
                    "pass allow_rewrite_boundary=True for the value-level "
                    "net diff"
                )
            dfrom = self.read(spark, version=from_version)
            dto = self.read(spark, version=to_version)
            if "schema_id" in eto and efrom.get("schema_id") != eto.get(
                "schema_id"
            ):
                from iceberg_evolve_spark.operators.migrate_df import (
                    migrate_dataframe,
                )
                from iceberg_evolve_spark.serializer import schema_from_json

                s_from, _ = schema_from_json(
                    efrom["schemas"][str(efrom["schema_id"])]
                )
                s_to, _ = schema_from_json(
                    eto["schemas"][str(eto["schema_id"])]
                )
                dfrom = migrate_dataframe(dfrom, s_from, s_to)
            inserts = dto.exceptAll(dfrom).withColumn(
                "_change_type", F.lit("insert")
            )
            deletes = dfrom.exceptAll(dto).withColumn(
                "_change_type", F.lit("delete")
            )
            return inserts.unionByName(deletes)

        # every delete ``from``'s stack lacks, a grown vector WHOLE: the
        # positions it inherited are already gone from the from-side live
        # rows, and rows appended and deleted inside the range live in files
        # the from read does not hold (the net contract)
        new_deletes = [
            d
            for d in eto.get("deletes", [])
            if json.dumps(d, sort_keys=True) not in from_stack
        ]
        live_to = self._read_with_pos(spark, eto)
        inserts = (
            live_to.filter(F.col("_seq") > int(from_version))
            .drop(*_RESERVED_COLS)
            .withColumn("_change_type", F.lit("insert"))
        )
        if not new_deletes:
            return inserts
        # every new delete's sequence exceeds every from-live row's, so the
        # sequence rule holds for all of them; joining under ``to``'s rule
        # keeps the sides equal to the ``to`` read's, which Spark reuses
        deletes = (
            self._apply_deletes(
                spark,
                self._read_with_pos(spark, efrom),
                new_deletes,
                bool(eto.get("has_appends")),
                "semi",
            )
            .drop(*_RESERVED_COLS)
            .withColumn("_change_type", F.lit("delete"))
        )
        return inserts.unionByName(deletes)

    # -- maintenance -------------------------------------------------------
    def expire_snapshots(
        self,
        keep_last: int,
        min_ts: float | None = None,
        orphan_grace_sec: float = 0.0,
    ) -> tuple[list[int], list[str]]:
        """Retention: expire log entries beyond the newest ``keep_last``
        (optionally also keeping everything at/after ``min_ts``), then
        reclaim storage no surviving entry references — Iceberg's
        ``expire_snapshots`` + orphan cleanup on this layer. Three sweep
        granularities:

        * whole ``v``/``d`` dirs referenced by NO surviving entry;
        * individual parquet files inside a LIVE lineage dir that no
          surviving entry's manifests list (expired appends, crashed-append
          orphans) — lineage dirs are shared across snapshots, so files,
          not dirs, are the reclamation unit, exactly like Iceberg data
          files under a shared prefix;
        * manifest files (``m*.json``) no surviving entry references.

        Commit-order discipline mirrors the write path in reverse: the log
        shrinks first (atomic replace — after this, no reader can resolve an
        expired version), and only then is now-unreferenced storage removed.
        A crash between the two steps leaves unreferenced orphans —
        invisible to readers, reclaimed by the next call — never a
        referenced-but-deleted file. Rollback entries keep their target's
        files alive: a file survives while ANY surviving entry's manifests
        list it.

        Returns (expired version numbers, removed dirs/files)."""
        if self.branch:
            raise ValueError(
                "expire_snapshots runs on the main handle — a branch pins "
                "its own history; drop_branch() releases it"
            )
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        entries = self.versions()
        if not entries:
            return [], []
        keep = entries[-keep_last:]
        if min_ts is not None:
            keep = [
                e
                for e in entries
                if e["ts"] >= min_ts or e in keep
            ]
        tagged = set(self.tags().values())
        if tagged:
            # named refs pin their snapshots (Iceberg retention honors
            # tags): a tagged version never expires, whatever keep_last says
            keep = [
                e for e in entries if e["version"] in tagged or e in keep
            ]
        expired = [e for e in entries if e not in keep]
        # Fold the log into the checkpoint even when nothing expires: this
        # is also what bounds the commit-file tail a streaming append
        # cadence grows (versions() is O(tail)). Commits racing this fold
        # land above the head and survive — see _install_checkpoint.
        self._install_checkpoint(keep)
        # live BRANCHES pin everything their logs reference — a branch is
        # an explicit ref, exactly like a tag (drop_branch releases it)
        branch_logs: dict[str, list[dict]] = {}
        for bname in self.branches():
            branch_logs[bname] = SnapshotTable(
                self.path, branch=bname
            ).versions()
        branch_entries: list[dict] = [
            e for ents in branch_logs.values() for e in ents
        ]
        live_dirs = {e["data_dir"] for e in keep}
        live_manifests: set[str] = set()
        # per lineage dir: the union of surviving entries' file lists
        live_rel: dict[str, set[str]] = {}
        for e in keep + branch_entries:
            live_dirs.update(d["dir"] for d in e.get("deletes", []))
            live_manifests.update(e["manifests"])
            live_rel.setdefault(e["data_dir"], set()).update(
                self._entry_files(e)
            )
        removed = []
        # Sweep EVERY unreferenced dir/file, not just what this call
        # expired — a crash between a previous retention's log commit and
        # its cleanup leaves orphans whose entries are already gone, so
        # "remove what I expired" would strand them forever. A concurrent
        # writer's renamed-but-uncommitted files/scratch would ALSO look
        # like orphans: ``orphan_grace_sec`` skips reclamation targets
        # younger than the window (Iceberg's remove_orphan_files
        # ``older_than``, default 3 days there). The 0.0 default keeps the
        # single-maintenance protocol's immediate cleanup; deployments
        # running retention beside live writers must pass a grace window.
        def _graced(path_: str) -> bool:
            if orphan_grace_sec <= 0:
                return False
            try:
                return time.time() - os.path.getmtime(path_) < orphan_grace_sec
            except OSError:
                return True  # vanished/in-flux: leave for the next run
        for name in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, name)
            stem = name
            for suffix in (".tmp", ".stage"):
                # crashed write/append staging dirs are orphans too
                if stem.endswith(suffix):
                    stem = stem[: -len(suffix)]
            # writer-unique tokens: lineage dirs themselves are uuid-suffixed
            # (v00006-ab12cd34), as are append stages and delete scratch dirs
            # (v00006-ab12cd34.stage / d00002.ab12cd34.tmp)
            if stem != name or re.fullmatch(r"v\d{5}-[0-9a-f]{8}", stem):
                stem = re.sub(r"[.-][0-9a-f]{8}\Z", "", stem)
            if (
                os.path.isdir(full)
                and stem[:1] in ("v", "d")
                and stem[1:].isdigit()
            ):
                if name not in live_dirs and not _graced(full):
                    shutil.rmtree(full)
                    removed.append(name)
                elif name == stem and live_rel.get(name):
                    # live lineage dir: per-file sweep
                    live = live_rel[name]
                    for rel in parquet_files(full):
                        fp = os.path.join(full, rel)
                        if rel not in live and not _graced(fp):
                            os.remove(fp)
                            removed.append(os.path.join(name, rel))
            elif (
                os.path.isfile(full)
                and re.fullmatch(
                    r"m\d{5}(-[A-Za-z0-9_\-]+)?\.json(\.tmp(-[0-9a-f]{8})?)?",
                    name,
                )
                and name not in live_manifests
                and not _graced(full)
            ):
                os.remove(full)
                removed.append(name)
            elif os.path.isfile(full) and re.fullmatch(
                r"c\d{5}(-[A-Za-z0-9_\-]+)?\.commit\.json\.tmp-[0-9a-f]{8}",
                name,
            ):
                # crashed commit publish: the tmp was never linked (a
                # successful _link_commit always unlinks its tmp)
                if not _graced(full):
                    os.remove(full)
                    removed.append(name)
            elif os.path.isfile(full) and (
                m_c := re.fullmatch(
                    r"c(\d{5})(?:-([A-Za-z0-9_\-]+))?\.commit\.json", name
                )
            ):
                # commit files a checkpoint already covers are inert
                # (versions() reads only the tail above the checkpoint
                # head), as are files of a dropped branch — crash
                # leftovers of _install_checkpoint / drop_branch
                bname = m_c.group(2)
                scope = (
                    self if bname is None
                    else SnapshotTable(self.path, branch=bname)
                )
                branch_gone = bname is not None and not os.path.exists(
                    scope._manifest_path()
                )
                if (
                    branch_gone
                    or int(m_c.group(1)) <= scope._checkpoint_head()
                ) and not _graced(full):
                    os.remove(full)
                    removed.append(name)
        # statistics files (analyze()) of expired versions go with them;
        # sidecars are branch-scoped ({branch}-{version}.json), so a
        # branch's stats live exactly as long as its log names the version
        stats_dir = os.path.join(self.path, "_stats")
        if os.path.isdir(stats_dir):
            live_stats = {f"{e['version']:05d}" for e in keep}
            for bname, ents in branch_logs.items():
                live_stats.update(f"{bname}-{e['version']:05d}" for e in ents)
            for name in sorted(os.listdir(stats_dir)):
                m = re.fullmatch(
                    r"((?:[A-Za-z0-9][A-Za-z0-9_\-]*-)?\d{5})\.json(\.tmp)?",
                    name,
                )
                if m and m.group(1) not in live_stats:
                    os.remove(os.path.join(stats_dir, name))
                    removed.append(os.path.join("_stats", name))
        # bloom blobs of versions no surviving LINEAGE can probe: a blob
        # stays useful while any surviving entry shares its data_dir (files
        # are immutable, the planner probes the newest blob <= version); a
        # branch-scoped blob additionally needs its branch to still exist.
        # Each blob's .words parquet sidecar follows its json; a .words dir
        # without a json is a torn-analyze orphan and is reclaimed.
        bloom_dir = os.path.join(self.path, "_bloom")
        if os.path.isdir(bloom_dir):
            live_lineages = {
                e["data_dir"] for e in keep + branch_entries
            }

            def _rm_bloom(name: str) -> None:
                full = os.path.join(bloom_dir, name)
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)
                elif os.path.exists(full):
                    os.remove(full)
                else:
                    return  # already swept with its companion blob
                removed.append(os.path.join("_bloom", name))

            for name in sorted(os.listdir(bloom_dir)):
                full = os.path.join(bloom_dir, name)
                if os.path.isdir(full) or not os.path.exists(full):
                    continue  # .words dirs follow their blob json below
                try:
                    with open(full) as fh:
                        blob = json.load(fh)
                except (json.JSONDecodeError, OSError):
                    blob = {}  # torn .tmp orphan
                live = blob.get("data_dir") in live_lineages and (
                    blob.get("branch") is None
                    or blob.get("branch") in branch_logs
                )
                if not live:
                    _rm_bloom(name)
                    wname = blob.get("words")
                    if wname and os.path.exists(
                        os.path.join(bloom_dir, wname)
                    ):
                        _rm_bloom(wname)
            live_words = set()
            for name in os.listdir(bloom_dir):
                if name.endswith(".json"):
                    try:
                        with open(os.path.join(bloom_dir, name)) as fh:
                            live_words.add(json.load(fh).get("words"))
                    except (json.JSONDecodeError, OSError):
                        pass
            for name in sorted(os.listdir(bloom_dir)):
                if (
                    os.path.isdir(os.path.join(bloom_dir, name))
                    and name not in live_words
                ):
                    _rm_bloom(name)
        return [e["version"] for e in expired], sorted(set(removed))
