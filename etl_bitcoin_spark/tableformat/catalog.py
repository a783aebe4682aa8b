"""LakeCatalog — atomic multi-table transactions over LakeTables.

The reference's signature move is one buffered transaction fanning a
batch into 10 normalized tables with a single Commit() (reference
database/csv/neo4j_csv/neo4j_csv.go:103-117, tables declared at
neo4j_csv.go:13-29) — but its commit is NOT atomic across files (a
worker failing mid-commit leaves tables inconsistent, with no rollback).
This module supplies the engine-level equivalent with real atomicity:

- Tables are ordinary LakeTables under ``<root>/<name>/``.
- The catalog keeps its own manifest: a map ``table -> pinned manifest
  version`` kept as the same manifest chain a table keeps, through the
  same code (``lake._claim_manifest``, ``lake._latest_version``, the
  ``lake._batch_applied`` ledger) — two concurrent ``commit_multi``
  calls (or a ``create_table`` racing one) can never silently clobber
  each other's catalog pointer; the loser REBASES on the winner's
  manifest.
- ``commit_multi`` stages every table's snapshot first (per-table
  commits, idempotent on batch_id), then publishes ONE catalog manifest
  pinning all the new versions. A crash anywhere before that final
  claim leaves the catalog pointing at the OLD version of every table —
  readers never observe a partial transaction.
- Replaying ``commit_multi`` after a crash is safe: tables that already
  applied the batch are recognized (batch_id guard + durable marker
  ledger) and their committed version is recovered from their manifest
  history, so the catalog publish completes the transaction instead of
  double-applying.
- Rebase rule: table histories are LINEAR (the table layer's own CAS),
  so merging two concurrent catalog publishes is always safe — each
  table pins ``max(winner's pin, ours)``, which contains both
  transactions' effects. Content-level conflicts surface at the table
  layer (CommitConflict from ``LakeTable.commit``) before the catalog
  publish is ever attempted. Under concurrency a transaction is still
  all-or-nothing, though it may become visible together with LATER
  states of tables another writer advanced — the standard snapshot
  semantics of a versioned catalog.

Reads through the catalog (``read``) resolve the pinned version, not the
table's own latest, so a half-landed transaction is invisible.
"""

from __future__ import annotations

import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .lake import (
    _CLAIM_RETRIES,
    _JSON_CACHE,
    CommitConflict,
    LakeTable,
    _applied_ids,
    _batch_applied,
    _claim_manifest,
    _latest_version,
    _load_json_cached,
    _mark_batch_applied,
    _publish,
    _versions,
    _vname,
    prune_marker_ledger,
)


class LakeCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.catalog_dir = os.path.join(root, "_catalog")

    # ---------------------------------------------------------------- setup
    @classmethod
    def create(cls, spark: SparkSession, root: str) -> "LakeCatalog":
        cat = cls(spark, root)
        os.makedirs(os.path.join(cat.catalog_dir, "batches"), exist_ok=True)
        _publish(cat.catalog_dir, {
            "version": 1,
            "parent": None,
            "batch_id": None,
            "applied_batch_ids": [],
            "committed_at": time.time(),
            "tables": {},
        })
        return cat

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "_catalog", "_latest"))

    def create_table(
        self,
        name: str,
        schema_ddl: str,
        key_cols: list[str],
        n_buckets: int = 16,
    ) -> LakeTable:
        t = LakeTable.create(
            self.spark, os.path.join(self.root, name), schema_ddl, key_cols,
            n_buckets,
        )
        for _attempt in range(_CLAIM_RETRIES):
            cur = self.snapshot()
            m = dict(cur)
            m["version"] = cur["version"] + 1
            m["parent"] = cur["version"]
            m["tables"] = dict(cur["tables"], **{name: 1})
            m["committed_at"] = time.time()
            if _claim_manifest(self.catalog_dir, m):
                return t
        raise CommitConflict(
            f"lost {_CLAIM_RETRIES} CAS races registering table {name}"
        )

    # ------------------------------------------------------------ manifests
    def snapshot(self, version: int | None = None) -> dict[str, Any]:
        if version is None:
            version = _latest_version(self.catalog_dir)
        return _load_json_cached(
            os.path.join(self.catalog_dir, _vname(version))
        )

    def versions(self) -> list[int]:
        return _versions(self.catalog_dir)

    # ----------------------------------------------------------------- read
    def table(self, name: str) -> LakeTable:
        return LakeTable(self.spark, os.path.join(self.root, name))

    def read(
        self, name: str, catalog_version: int | None = None, **kw
    ) -> DataFrame:
        """Read a table AT ITS CATALOG-PINNED VERSION — the consistent
        multi-table snapshot, immune to half-landed transactions."""
        snap = self.snapshot(catalog_version)
        if name not in snap["tables"]:
            raise KeyError(f"table {name!r} not in catalog")
        return self.table(name).read(version=snap["tables"][name], **kw)

    # --------------------------------------------------------------- commit
    def commit_multi(
        self,
        writes: dict[str, dict[str, Any]],
        batch_id: str,
    ) -> bool:
        """Land one batch across several tables atomically (the engine
        analog of the reference's one-DBTx-many-tables Commit).

        ``writes``: table name -> kwargs for ``LakeTable.commit`` minus
        batch_id, i.e. ``{"new_content": df, "replaced_buckets": [...],
        "lsn_range": (lo, hi) | None, "metrics": {...}}``.

        Phase 1 stages each table's snapshot (data files + table
        manifest). Phase 2 CAS-publishes one catalog manifest pinning
        every new version; a lost race REBASES on the winner (pin =
        max(winner, ours) per table — safe because table histories are
        linear, see module docstring). Crash before phase 2 => catalog
        still pins the old version of EVERY table; re-running with the
        same batch_id resumes (already-committed tables are recovered by
        batch_id) and completes the publish. Returns False if the whole
        transaction was already applied."""
        if _batch_applied(self.catalog_dir, self.snapshot(), batch_id):
            return False

        def _stage(name: str, kw: dict[str, Any]) -> tuple[str, int]:
            table = self.table(name)
            applied = table.commit(batch_id=f"{batch_id}/{name}", **kw)
            if applied:
                return name, table.snapshot()["version"]
            # crash-resume path: this table landed the batch in a
            # previous attempt — pin the version that carries it.
            v = self._version_for_batch(table, f"{batch_id}/{name}")
            if v is None:
                raise RuntimeError(
                    f"table {name}: batch {batch_id} recorded as applied "
                    "but no manifest carries it (history expired?)"
                )
            return name, v

        ours: dict[str, int] = {}
        if len(writes) > 1:
            # The per-table stage commits are INDEPENDENT Spark jobs
            # (distinct tables, distinct data dirs, per-table CAS) —
            # submit them concurrently so the cluster overlaps their
            # write stages instead of running four jobs back to back.
            # Atomicity is untouched: visibility still flips only at
            # the single catalog CAS publish below.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(len(writes), 8)
            ) as ex:
                for name, v in ex.map(
                    lambda kv: _stage(*kv), writes.items()
                ):
                    ours[name] = v
        else:
            for name, kw in writes.items():
                ours[name] = _stage(name, kw)[1]
        return self._publish_pins(ours, batch_id, f"batch {batch_id}")

    def _publish_pins(
        self, ours: dict[str, int], batch_id: str, what: str
    ) -> bool:
        """Pin-and-publish loop of a catalog transaction: claim the next
        catalog version pinning each table in ``ours`` at max(winner's
        pin, ours), rebasing on lost races; then mark the batch. False
        if the batch is already applied."""
        for _attempt in range(_CLAIM_RETRIES):
            cur = self.snapshot()
            if _batch_applied(self.catalog_dir, cur, batch_id):
                return False
            pinned = dict(cur["tables"])
            for name, v in ours.items():
                pinned[name] = max(v, pinned.get(name, 0))
            manifest = {
                "version": cur["version"] + 1,
                "parent": cur["version"],
                "batch_id": batch_id,
                "applied_batch_ids": _applied_ids(cur, batch_id),
                "committed_at": time.time(),
                "tables": pinned,
            }
            if _claim_manifest(self.catalog_dir, manifest):
                _mark_batch_applied(self.catalog_dir, batch_id)
                return True
        raise CommitConflict(
            f"lost {_CLAIM_RETRIES} CAS races publishing catalog {what}"
        )

    def publish_branches(
        self,
        branches: dict[str, str],
        batch_id: str,
        drop: bool = False,
    ) -> bool:
        """Catalog-atomic multi-table WRITE-AUDIT-PUBLISH: fast-forward
        each table's branch onto its main head, then pin every
        published version in ONE catalog CAS. Catalog readers resolve
        PINS, so visibility of the whole staged batch flips at the
        catalog publish — all tables or none — even though the
        per-table head swaps happen first. ``branches``: table name ->
        branch name (stage with ``commit_multi`` passing
        ``\"ref\": <branch>`` in each table's write kwargs, or any
        per-table ``apply_batch(..., ref=...)``).

        Crash between the table publishes and the catalog CAS: pins
        still reference the old versions (catalog readers unaffected);
        re-running with the same batch_id resumes — an
        already-fast-forwarded branch publish is a no-op returning its
        head (lake.publish_branch's ancestor check), and the catalog
        CAS then completes. A table whose main truly diverged raises
        CommitConflict before any pin moves."""
        if _batch_applied(self.catalog_dir, self.snapshot(), batch_id):
            return False
        ours = {
            name: self.table(name).publish_branch(br, drop=False)
            for name, br in branches.items()
        }
        if not self._publish_pins(ours, batch_id, f"branches {batch_id}"):
            return False
        if drop:
            for name, br in branches.items():
                self.table(name).drop_branch(br)
        return True

    def verify(self, deep: bool = False) -> dict[str, Any]:
        """Catalog fsck: every pin must reference an existing snapshot
        of its table, and each member table passes its own ``verify``
        (manifest tree, file existence, lineage; ``deep`` adds the
        parquet footer audit). Returns one aggregated report."""
        cat = self.snapshot()
        errors: list[str] = []
        per_table: dict[str, dict[str, Any]] = {}
        files = 0
        for name, pinned_v in cat["tables"].items():
            t = self.table(name)
            if pinned_v not in t.versions():
                errors.append(
                    f"table {name}: pinned v{pinned_v} has no snapshot"
                )
                continue
            # audit the PINNED snapshot — the one catalog readers see
            rep = t.verify(version=pinned_v, deep=deep)
            per_table[name] = rep
            files += rep["files_checked"]
            errors.extend(f"table {name}: {e}" for e in rep["errors"])
        return {
            "ok": not errors,
            "errors": errors,
            "files_checked": files,
            "tables": per_table,
            "catalog_version": cat["version"],
        }

    @staticmethod
    def _version_for_batch(table: LakeTable, batch_id: str) -> int | None:
        for v in reversed(table.versions()):
            if table.snapshot(v).get("batch_id") == batch_id:
                return v
        return None

    # ----------------------------------------------------------- maintenance
    def compact_files(
        self,
        max_files_per_bucket: int = 8,
        batch_id: str | None = None,
    ) -> dict[str, Any]:
        """Catalog-coordinated small-file bin-packing: run
        ``LakeTable.compact_files`` on every member table, then advance
        the catalog pins so catalog readers see the packed layout.

        Pin-advance safety: a pin only moves to a compaction version
        whose PARENT is exactly the currently pinned version. If any
        other commit slipped between the pin and the compaction (e.g. a
        concurrent ``commit_multi`` that staged its table commit but has
        not published yet), advancing the pin would expose that
        half-landed transaction — so the pin stays and the next
        ``commit_multi`` publish advances past both. The compacted
        files are durable either way; only their catalog visibility
        waits."""
        cat = self.snapshot()
        results: dict[str, Any] = {}
        ours: dict[str, int] = {}
        for name, pinned_v in cat["tables"].items():
            t = self.table(name)
            if t.snapshot()["version"] != pinned_v:
                # unpublished commits are in flight on this table —
                # compacting on top of them is legal but the pin could
                # not advance; skip until the catalog catches up
                results[name] = {"applied": False, "reason": "pin lag"}
                continue
            cid = (
                f"{batch_id}/{name}" if batch_id
                else f"compact-files-{name}-v{pinned_v}"
            )
            try:
                r = t.compact_files(max_files_per_bucket, batch_id=cid)
            except CommitConflict:
                results[name] = {"applied": False, "reason": "conflict"}
                continue
            results[name] = r
            if not r["applied"]:
                continue
            v = self._version_for_batch(t, cid)
            if v is not None and t.snapshot(v).get("parent") == pinned_v:
                ours[name] = v
        if ours:
            for _attempt in range(_CLAIM_RETRIES):
                cur = self.snapshot()
                pinned = dict(cur["tables"])
                moved = False
                for name, v in ours.items():
                    # only advance still-current pins (a concurrent
                    # publish superseding us already contains the
                    # compaction in its table's linear history)
                    if pinned.get(name) == cat["tables"][name]:
                        pinned[name] = v
                        moved = True
                if not moved:
                    break
                manifest = {
                    "version": cur["version"] + 1,
                    "parent": cur["version"],
                    "batch_id": None,
                    "applied_batch_ids": cur["applied_batch_ids"],
                    "committed_at": time.time(),
                    "tables": pinned,
                }
                if _claim_manifest(self.catalog_dir, manifest):
                    break
        return results

    def expire_snapshots(
        self,
        keep_last: int = 10,
        orphan_grace_sec: float | None = None,
        batch_marker_retention_sec: float | None = None,
    ) -> dict[str, Any]:
        """Catalog-coordinated expiry: trim catalog snapshots to the last
        ``keep_last``, then expire each member table while PINNING every
        table version any retained catalog snapshot still references —
        a consistent multi-table time-travel window survives, everything
        older is GC'd."""
        versions = self.versions()
        keep = versions[-keep_last:]
        removed = 0
        for v in versions:
            if v not in keep:
                p = os.path.join(self.catalog_dir, _vname(v))
                _JSON_CACHE.pop(p, None)
                os.remove(p)
                removed += 1
        pinned: dict[str, set[int]] = {}
        for v in keep:
            m = self.snapshot(v)
            for name, tv in m["tables"].items():
                pinned.setdefault(name, set()).add(tv)
        table_stats = {}
        for name, pins in pinned.items():
            table_stats[name] = self.table(name).expire_snapshots(
                keep_last=1, pinned_versions=pins,
                orphan_grace_sec=orphan_grace_sec,
                batch_marker_retention_sec=batch_marker_retention_sec,
            )
        # the catalog's own batch ledger has the same unbounded-growth
        # shape as a table's — same retention contract applies
        markers = prune_marker_ledger(
            self.catalog_dir, batch_marker_retention_sec
        )
        return {
            "catalog_snapshots_removed": removed,
            "tables": table_stats,
            "batch_markers_removed": markers,
        }
