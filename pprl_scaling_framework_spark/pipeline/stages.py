"""Stage checkpointing with an append-only snapshot log, footer-counted
metrics, and snapshot-pinned resume.

Spark-first replacement for the reference's per-MR-job HDFS materialization
with ``FAILED_*`` rename recovery and counter threading
(``mr-blocking/HammingLSHFPSToolV0.java:158-177,219-236``), upgraded to
Iceberg-style table semantics (SURVEY §1.1) within plain parquet:

- every stage owns an APPEND-ONLY log of immutable snapshots
  (``run_dir/<stage>/snap-00001/ ...``) plus a manifest entry recording, per
  snapshot: row count, wall seconds, per-file row counts (read from the
  written parquet footers on the driver, so a stage runs no Spark job
  beyond its write, as the reference's counters came free with each MR
  job's output), the result schema (as JSON too, so reading a snapshot
  back needs no schema-inference job), and an optional input FINGERPRINT;
- resume is pinned to snapshots, not directory presence: ``run(name, build,
  fingerprint=...)`` reuses the current snapshot only while the fingerprint
  matches; a changed input appends a NEW snapshot and the old one stays
  readable via :meth:`read_at` (time travel), exactly like reading an
  Iceberg table at an old snapshot id;
- a failed write renames its partial output ``FAILED_snap-*`` (the
  reference's recovery convention) and aborts; previously committed
  snapshots are untouched;
- commits are CONCURRENT-WRITER SAFE via optimistic versioned manifests
  (Iceberg's commit protocol): each commit re-reads the latest
  ``_manifest/v{N}.json``, applies its mutation, and publishes ``v{N+1}``
  with an atomic exclusive hard-link — a concurrent committer that won the
  race makes the link fail, and the loser rebases onto the fresh state and
  retries. Snapshot directories are reserved with an exclusive ``mkdir``
  before any data is written, so two runners can never write the same
  ``snap-*`` path. Both writers' snapshots survive in a linear log.

(The same code drives a real Iceberg catalog by swapping the parquet write
for ``writeTo(table)`` — this sandbox has no Iceberg jars, so the snapshot
directory layout stands in for table snapshots; the manifest is the stage
ledger either way.)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class StageMetrics:
    """What one committed snapshot holds, counted from its parquet footers.

    ``partition_rows`` maps ``"0"``, ``"1"``, ... to the row count of each
    written part file, in file-name order, and ``partitions`` is the number
    of files. Spark writes no file for an empty partition, so a
    ``repartition(7)`` of 3 rows reports 3 entries; a stage with no rows at
    all writes one empty file and reports ``{"0": 0}``. These are the
    write's partitions, not the splits a later read of the snapshot gets
    (a read merges small files into fewer splits).
    """

    name: str
    rows: int
    seconds: float
    partitions: int
    partition_rows: dict[str, int]
    extra: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "rows": self.rows,
            "seconds": self.seconds,
            "partitions": self.partitions,
            "partition_rows": self.partition_rows,
            "extra": self.extra,
        }


class StageRunner:
    """Run named stages with snapshot-logged parquet checkpoints + resume."""

    #: commit retries before giving up (each retry rebases on fresh state,
    #: so 64 losses in a row means pathological contention, not livelock)
    MAX_COMMIT_RETRIES = 64

    def __init__(self, spark: SparkSession, run_dir: str) -> None:
        self.spark = spark
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.manifest_dir = os.path.join(run_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)
        # legacy mirror (always the latest committed view; informational —
        # the versioned _manifest/v*.json log is authoritative)
        self.manifest_path = os.path.join(run_dir, "manifest.json")
        _, self.manifest = self._load_latest()

    # --- optimistic versioned commits (Iceberg protocol) -------------------

    def _version_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version:06d}.json")

    @property
    def _latest_hint_path(self) -> str:
        return os.path.join(self.manifest_dir, "LATEST")

    def _read_latest_hint(self) -> int:
        """Best-effort latest-version HINT (0 if absent/corrupt).

        The hint is written AFTER the exclusive hard-link that commits a
        version, so it can lag the true latest (crash between link and hint,
        or a concurrent committer) but never lead it; ``_load_latest`` probes
        FORWARD from the hint to find the true head without listing the
        whole directory — O(commits since the hint) instead of O(all
        versions) on every load (Iceberg's ``version-hint.text``).
        """
        try:
            with open(self._latest_hint_path) as f:
                return int(f.read().strip() or 0)
        except (OSError, ValueError):
            return 0

    def _write_latest_hint(self, version: int) -> None:
        tmp = f"{self._latest_hint_path}.tmp-{os.getpid()}-{time.monotonic_ns()}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._latest_hint_path)

    def _load_latest(self) -> tuple[int, dict]:
        """(version, manifest) of the newest committed manifest.

        Version 0 = no versioned commit yet; falls back to a legacy
        single-file ``manifest.json`` (pre-versioning run dirs) or an empty
        manifest. A concurrent :meth:`compact` may delete an old version
        between our listing and our open — retry on FileNotFoundError (the
        newest version is never deleted, so the retry terminates).
        """
        for _ in range(self.MAX_COMMIT_RETRIES):
            hint = self._read_latest_hint()
            if hint and os.path.exists(self._version_path(hint)):
                latest = hint
                while os.path.exists(self._version_path(latest + 1)):
                    latest += 1
            else:  # no/stale-beyond-compaction hint: full directory scan
                versions = sorted(
                    int(f[1:7]) for f in os.listdir(self.manifest_dir)
                    if f.startswith("v") and f.endswith(".json")
                )
                if not versions:
                    break
                latest = versions[-1]
            try:
                with open(self._version_path(latest)) as f:
                    return latest, json.load(f)
            except FileNotFoundError:
                continue  # lost a race with compact(); re-resolve
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return 0, json.load(f)
        return 0, {"stages": {}}

    def compact(self, keep: int = 8) -> int:
        """Prune old manifest versions, keeping the newest ``keep`` (>= 1).

        Old SNAPSHOT data is untouched (time travel via :meth:`read_at`
        still works — the current manifest carries the full snapshot log);
        only superseded manifest *versions* are removed, bounding
        ``_manifest/`` growth in a long-lived deployment. Safe against
        concurrent readers: the newest version always survives, and readers
        retry on a vanished older version. Returns #files removed.
        """
        keep = max(1, keep)
        latest, _ = self._load_latest()
        if latest > self._read_latest_hint():
            self._write_latest_hint(latest)  # a pruned hint target would force full scans
        removed = 0
        for f in os.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                v = int(f[1:7])
                if v <= latest - keep:
                    try:
                        os.remove(os.path.join(self.manifest_dir, f))
                        removed += 1
                    except FileNotFoundError:
                        pass  # concurrent compactor got it first
        return removed

    def refresh(self) -> None:
        """Re-read the latest committed manifest (see concurrent commits)."""
        _, self.manifest = self._load_latest()

    def _commit(self, apply: Callable[[dict], None]) -> None:
        """Atomically publish a manifest mutation.

        Re-reads the LATEST manifest, applies ``apply`` to it, and publishes
        the result as the next version via an exclusive hard-link (atomic on
        POSIX; fails with FileExistsError if a concurrent committer won the
        version). On a lost race the mutation is re-applied to the fresh
        state and retried — an optimistic-concurrency rebase, so concurrent
        appends to the SAME stage both survive in the snapshot log.
        """
        for _ in range(self.MAX_COMMIT_RETRIES):
            version, manifest = self._load_latest()
            apply(manifest)
            tmp = os.path.join(
                self.manifest_dir, f".tmp-{os.getpid()}-{time.monotonic_ns()}"
            )
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=2, sort_keys=True)
            target = self._version_path(version + 1)
            try:
                os.link(tmp, target)  # atomic + exclusive: loser raises
            except FileExistsError:
                os.remove(tmp)
                continue  # concurrent commit won this version; rebase + retry
            os.remove(tmp)
            self._write_latest_hint(version + 1)
            self.manifest = manifest
            # refresh the legacy mirror (last-committer-wins is fine here:
            # readers of record go through _manifest/)
            mirror_tmp = self.manifest_path + ".tmp"
            with open(mirror_tmp, "w") as f:
                json.dump(manifest, f, indent=2, sort_keys=True)
            os.replace(mirror_tmp, self.manifest_path)
            return
        raise RuntimeError(
            f"manifest commit lost {self.MAX_COMMIT_RETRIES} races in "
            f"{self.manifest_dir}; aborting"
        )

    def _snapshot_path(self, name: str, snapshot_id: int) -> str:
        return os.path.join(self.run_dir, name, f"snap-{snapshot_id:05d}")

    # --- snapshot log accessors ------------------------------------------

    def snapshots(self, name: str) -> list[dict]:
        """The stage's append-only snapshot log (oldest first)."""
        return list(self.manifest["stages"].get(name, {}).get("snapshots", []))

    def current_snapshot_id(self, name: str) -> int | None:
        return self.manifest["stages"].get(name, {}).get("current")

    def completed(self, name: str) -> bool:
        entry = self.manifest["stages"].get(name)
        if not entry or entry.get("status") != "ok":
            return False
        cur = entry.get("current")
        return cur is not None and os.path.exists(self._snapshot_path(name, cur))

    def read(self, name: str) -> DataFrame:
        """Read the stage's CURRENT snapshot."""
        cur = self.current_snapshot_id(name)
        if cur is None:
            raise KeyError(f"stage {name!r} has no committed snapshot")
        return self.read_at(name, cur)

    def read_at(
        self, name: str, snapshot_id: int, under_current_schema: bool = False
    ) -> DataFrame:
        """Time travel: read a specific committed snapshot of the stage.

        ``under_current_schema``: schema evolution — project the old snapshot
        under the CURRENT snapshot's (widened) schema, with columns added
        since then read as null (exactly how an Iceberg table serves an old
        snapshot after an ADD COLUMN).
        """
        snaps = {s["id"]: s for s in self.snapshots(name)}
        if snapshot_id not in snaps:
            raise KeyError(
                f"stage {name!r} has no snapshot {snapshot_id} "
                f"(log: {sorted(snaps)})"
            )
        snap = snaps[snapshot_id]
        if under_current_schema:
            cur = self.current_snapshot_id(name)
            if cur is not None and cur != snapshot_id:
                snap = snaps[cur]
        if "schema_json" in snap:
            schema = StructType.fromJson(json.loads(snap["schema_json"]))
        else:  # a record from before schema_json was kept: infer (a Spark job)
            schema = self.spark.read.parquet(self._snapshot_path(name, snap["id"])).schema
        return self.spark.read.schema(schema).parquet(
            self._snapshot_path(name, snapshot_id))

    # --- execution ---------------------------------------------------------

    def run(
        self,
        name: str,
        build: Callable[[], DataFrame],
        fingerprint: str | None = None,
    ) -> DataFrame:
        """Build + snapshot the stage unless its current snapshot is reusable.

        ``fingerprint`` identifies the stage's INPUT (e.g. an upstream
        snapshot id, a config hash). Resume reuses the current snapshot only
        if the stage is complete AND the fingerprint matches the one the
        snapshot was built from (``None`` matches anything — directory-level
        resume, the round-2 behavior). On mismatch a NEW snapshot is
        appended; older snapshots remain readable via :meth:`read_at`.
        """
        self.refresh()  # see concurrent writers' commits before deciding
        entry = self.manifest["stages"].get(name)
        if entry and entry.get("status") == "ok":
            cur = entry.get("current")
            cur_snap = next(
                (s for s in entry.get("snapshots", []) if s["id"] == cur), None
            )
            if (
                cur_snap is not None
                and os.path.exists(self._snapshot_path(name, cur))
                and (fingerprint is None or cur_snap.get("fingerprint") == fingerprint)
            ):
                return self.read_at(name, cur)

        # reserve the snapshot directory EXCLUSIVELY (atomic mkdir) so a
        # concurrent runner can never write the same snap-* path; ids are
        # derived from both the log and the directory listing because a
        # concurrent writer may have reserved an id it hasn't committed yet
        stage_dir = os.path.join(self.run_dir, name)
        os.makedirs(stage_dir, exist_ok=True)
        disk_ids = [
            int(d.split("snap-")[-1]) for d in os.listdir(stage_dir)
            if "snap-" in d and d.split("snap-")[-1].isdigit()
        ]
        snapshot_id = max(
            [s["id"] for s in self.snapshots(name)] + disk_ids, default=0
        ) + 1
        while True:
            path = self._snapshot_path(name, snapshot_id)
            try:
                os.makedirs(path)
                break
            except FileExistsError:
                snapshot_id += 1
        t0 = time.time()
        df = build()
        try:
            df.write.mode("overwrite").parquet(path)
        except Exception:
            # reference behavior: failed stage output renamed FAILED_* & abort;
            # previously committed snapshots stay readable
            failed = os.path.join(self.run_dir, name, f"FAILED_snap-{snapshot_id:05d}")
            if os.path.exists(path):
                os.replace(path, failed)

            def apply_failed(m: dict) -> None:
                e = m["stages"].get(name, {})
                m["stages"][name] = {
                    "status": "failed",
                    "ts": time.time(),
                    "snapshots": e.get("snapshots", []),
                    "current": e.get("current"),
                    **({"metrics": e["metrics"]} if "metrics" in e else {}),
                }

            self._commit(apply_failed)
            raise
        # the write already knows what the commit records: the schema is
        # df's and the row counts sit in the part files' parquet footers, so
        # neither the read-back nor the metrics start a Spark job
        import pyarrow.parquet as pq  # lazy: ~2 MB of driver PSS, stage runs only

        out = self.spark.read.schema(df.schema).parquet(path)
        seconds = time.time() - t0
        files = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
        pr = {
            str(i): pq.read_metadata(os.path.join(path, f)).num_rows
            for i, f in enumerate(files)
        }
        rows = sum(pr.values())
        partitions = len(pr)

        metrics = StageMetrics(
            name=name, rows=rows, seconds=round(seconds, 3),
            partitions=partitions, partition_rows=pr,
        )
        snap_record = {
            "id": snapshot_id,
            "ts": time.time(),
            "fingerprint": fingerprint,
            "schema": out.schema.simpleString(),
            "schema_json": out.schema.json(),
            "metrics": metrics.to_dict(),
        }

        def apply_ok(m: dict) -> None:
            e = m["stages"].get(name, {})
            snaps = [s for s in e.get("snapshots", []) if s["id"] != snapshot_id]
            snaps = sorted(snaps + [snap_record], key=lambda s: s["id"])
            m["stages"][name] = {
                "status": "ok",
                "ts": time.time(),
                "current": snapshot_id,
                "snapshots": snaps,
                # top-level mirror of the current snapshot's metrics (stable API)
                "metrics": metrics.to_dict(),
            }

        self._commit(apply_ok)
        return out

    def metrics(self) -> list[dict]:
        return [
            e["metrics"] for e in self.manifest["stages"].values()
            if e.get("status") == "ok" and "metrics" in e
        ]
