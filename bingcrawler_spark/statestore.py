"""Snapshot-versioned parquet tables — Iceberg-style atomic commits.

The north rule calls for Iceberg tables checkpointed per wave. This image has
no Iceberg runtime jar, so the same semantics are provided by a minimal
snapshot store: each table is a directory of immutable snapshots
(``<wh>/<table>/snap-0000N/`` parquet) plus a JSON manifest whose atomic
rename is the commit point. On a real cluster the calls map 1:1 to Iceberg
(`commit` → snapshot-producing overwrite, `append` → fast-append snapshot,
`read` → current snapshot, `snapshots` → time travel / per-wave lineage);
swap the backend without touching the wave loop.

Append tables are the scale-critical piece: the seen-set, referrer edges,
pop log and wave metrics grow monotonically, so each wave writes ONLY its
delta (cost ∝ wave size) and `read` unions the delta files — never an
O(state) rewrite per wave.  Only the frontier (bounded working set) is
rewritten per wave.

Reads carry the schema: `stage` records the written DataFrame's schema and
`promote` files it in the manifest, so `read` hands it to the parquet
reader and launches no footer-reading schema-inference job (an Iceberg
table's metadata carries its schema the same way).  Snapshots promoted
before schemas were recorded are read with inference.

Reference analogue: BDB SYNC transactions per op (UrlsDb.java:89-95,
Db.java:75-80) — durability unit there is one key, here one wave.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class SnapshotStore:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ---- paths -----------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _snap_dir(self, table: str, snap_id: int) -> str:
        return os.path.join(self._tdir(table), f"snap-{snap_id:05d}")

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_manifest.json")

    def manifest(self, table: str) -> dict | None:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    # ---- commits ---------------------------------------------------------
    # A snapshot lands in two steps so callers can overlap the slow halves:
    #   stage()   — write the parquet data files (the executor work; minutes
    #               at scale) with NO manifest change.  Safe to run several
    #               tables' stages concurrently: manifests are per-table and
    #               a staged dir is invisible to readers until promoted.
    #   promote() — the atomic manifest rename (microseconds).  THIS is the
    #               commit point; promote in recovery order so a kill between
    #               promotes leaves only "deltas ahead of the commit point",
    #               which rollback_to_wave already removes.
    # Iceberg analogue: stage = write data files + manifest list, promote =
    # the metadata-pointer swap that commits the snapshot.
    def stage(self, table: str, df: DataFrame, mode: str) -> dict:
        man = self.manifest(table) or {"current": -1, "snapshots": []}
        snap_id = man["current"] + 1
        snap_dir = self._snap_dir(table, snap_id)
        df.write.mode("overwrite").parquet(snap_dir)
        return {
            "table": table,
            "id": snap_id,
            "dir": snap_dir,
            "mode": mode,
            "schema": df.schema.json(),
        }

    def promote(self, token: dict, wave: int, meta: dict | None = None) -> str:
        man = self.manifest(token["table"]) or {"current": -1, "snapshots": []}
        # single-writer invariant: nothing committed since this stage.
        # A real exception, not an assert — the guard protects manifest
        # integrity and must survive python -O.
        if man["current"] + 1 != token["id"]:
            raise RuntimeError(
                f"stale stage token for {token['table']!r}: token id "
                f"{token['id']} but manifest is at {man['current']}"
            )
        man["current"] = token["id"]
        # the distinct schemas live once per manifest and entries index
        # them: the snapshot history is kept, and a schema per entry would
        # grow every manifest read by ~1 KB per wave
        schemas = man.setdefault("schemas", [])
        if token["schema"] not in schemas:
            schemas.append(token["schema"])
        man["snapshots"].append(
            {
                "id": token["id"],
                "wave": wave,
                "mode": token["mode"],
                "ts": time.time(),
                "schema": schemas.index(token["schema"]),
                **(meta or {}),
            }
        )
        tmp = self._manifest_path(token["table"]) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path(token["table"]))  # atomic on POSIX
        self._expire(token["table"], keep=4)
        return token["dir"]

    def discard(self, token: dict) -> None:
        """Drop a staged-but-not-promoted snapshot dir (abandoned wave)."""
        shutil.rmtree(token["dir"], ignore_errors=True)

    def commit(self, table: str, df: DataFrame, wave: int, meta: dict | None = None) -> str:
        """Full-overwrite snapshot (the new current state of the table)."""
        return self.promote(self.stage(table, df, "overwrite"), wave, meta)

    def append(self, table: str, df: DataFrame, wave: int, meta: dict | None = None) -> str:
        """Fast-append snapshot: df holds ONLY this wave's delta rows."""
        return self.promote(self.stage(table, df, "append"), wave, meta)

    def truncate(self, table: str) -> None:
        """F9 clearDb (UrlsDb.java truncate semantics): drop the table's
        snapshots AND manifest/row-log so a fresh bootstrap starts from
        nothing — append tables would otherwise keep prior rows live."""
        shutil.rmtree(self._tdir(table), ignore_errors=True)

    def rollback_to_wave(self, table: str, wave: int) -> bool:
        """Drop any snapshot committed for a wave AFTER `wave` — the
        mid-wave-kill recovery primitive: a wave's state spans several
        tables committed in sequence, and the frontier commit is the wave's
        commit point; on resume, deltas a dead run appended past the last
        frontier commit are rolled back so the re-run's appends are not
        duplicates.  Returns whether anything was dropped (a no-op when
        nothing is ahead)."""
        man = self.manifest(table)
        if man is None:
            return False
        keep = [s for s in man["snapshots"] if s["wave"] <= wave]
        if len(keep) == len(man["snapshots"]):
            return False
        drop = [s for s in man["snapshots"] if s["wave"] > wave]
        # refuse to point the manifest at state that _expire(keep=4) has
        # already deleted — a rollback the store cannot serve must fail
        # HERE (manifest untouched), not later as a path-not-found inside
        # read() mid-recovery
        if keep:
            trial = {"current": keep[-1]["id"], "snapshots": keep}
            missing = [
                i
                for i in self._live_ids(trial)
                if not os.path.isdir(self._snap_dir(table, i))
            ]
            if missing:
                raise ValueError(
                    f"rollback_to_wave({table!r}, {wave}): snapshots "
                    f"{missing} were expired by retention; oldest "
                    f"restorable wave is "
                    f"{self._oldest_restorable_wave(table, man)}"
                )
        man["snapshots"] = keep
        man["current"] = keep[-1]["id"] if keep else -1
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path(table))
        for s in drop:
            shutil.rmtree(self._snap_dir(table, s["id"]), ignore_errors=True)
        return True

    def _oldest_restorable_wave(self, table: str, man: dict) -> int | None:
        """Earliest wave whose full live-id set still has data dirs on
        disk (i.e. survives retention) — the rollback floor."""
        for s in man["snapshots"]:
            ids = self._live_ids(man, s["id"])
            if all(os.path.isdir(self._snap_dir(table, i)) for i in ids):
                return s["wave"]
        return None

    def _live_ids(self, man: dict, upto: int | None = None) -> list[int]:
        """Snapshot ids composing the state at snapshot `upto` (default
        current): the latest overwrite at-or-before it plus every append
        after that overwrite."""
        upto = man["current"] if upto is None else upto
        snaps = [s for s in man["snapshots"] if s["id"] <= upto]
        base = -1
        for s in snaps:
            if s.get("mode", "overwrite") == "overwrite":
                base = s["id"]
        return [s["id"] for s in snaps if s["id"] >= base] if base >= 0 else [
            s["id"] for s in snaps
        ]

    def _expire(self, table: str, keep: int) -> None:
        """Drop snapshot data no longer reachable from the last `keep`
        overwrite snapshots (append deltas stay live as long as an
        unexpired overwrite depends on them; manifest history stays)."""
        man = self.manifest(table)
        if not man:
            return
        overwrites = [
            s["id"] for s in man["snapshots"] if s.get("mode", "overwrite") == "overwrite"
        ]
        if not overwrites:
            return  # pure-append table: every delta is live forever
        horizon = overwrites[-keep] if len(overwrites) >= keep else overwrites[0]
        live = {f"snap-{i:05d}" for i in range(horizon, man["current"] + 1)}
        for d in os.listdir(self._tdir(table)):
            if d.startswith("snap-") and d not in live:
                shutil.rmtree(os.path.join(self._tdir(table), d), ignore_errors=True)

    # ---- reads -----------------------------------------------------------
    def read(self, table: str, snapshot: int | None = None) -> DataFrame:
        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"table {table} has no snapshots")
        ids = self._live_ids(man, snapshot)
        if not ids:  # e.g. rolled back past every snapshot
            raise FileNotFoundError(f"table {table} has no live snapshots")
        # inference would read the footer of the first file in path order,
        # i.e. of the oldest live snapshot: its recorded schema is the same
        first = next(s for s in man["snapshots"] if s["id"] == ids[0])
        schema = (
            man["schemas"][first["schema"]] if "schema" in first else None
        )
        return self._reader(schema).parquet(
            *[self._snap_dir(table, i) for i in ids]
        )

    def read_staged(self, token: dict) -> DataFrame:
        """A staged (not yet promoted) snapshot, read with its schema."""
        return self._reader(token["schema"]).parquet(token["dir"])

    def _reader(self, schema_json: str | None):
        reader = self.spark.read
        if schema_json is None:  # promoted before schemas were recorded
            return reader
        return reader.schema(T.StructType.fromJson(json.loads(schema_json)))

    def exists(self, table: str) -> bool:
        return self.manifest(table) is not None

    def current_wave(self, table: str) -> int:
        man = self.manifest(table)
        if not man or not man["snapshots"]:
            return -1
        return man["snapshots"][-1]["wave"]

    # ---- driver-side row logs (metrics lineage) --------------------------
    # One-row-per-wave tables (wave metrics) don't justify a Spark job per
    # commit: they land in a JSONL file with the same atomic-rename
    # durability, and materialize as a DataFrame on demand.

    def log_row(self, table: str, row: dict) -> None:
        """O(1) fsync'd append — NOT a read-modify-rewrite: a long crawl
        logs one row per wave, and rewriting the whole file per append is
        O(waves^2) total bytes.  A kill mid-append can leave one torn
        final line, which read_rows tolerates (rollback_rows_to_wave then
        rewrites the file clean)."""
        os.makedirs(self._tdir(table), exist_ok=True)
        path = os.path.join(self._tdir(table), "rows.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(row) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def rollback_rows_to_wave(self, table: str, wave: int) -> bool:
        """Row-log analogue of rollback_to_wave: drop rows logged for waves
        after `wave` (mid-wave-kill recovery for the metrics lineage) and a
        torn final line.  Returns whether anything was dropped; the file is
        rewritten only then."""
        rows, torn = self._row_log(table)
        keep = [r for r in rows if r.get("wave", 0) <= wave]
        if len(keep) == len(rows) and not torn:
            return False
        path = os.path.join(self._tdir(table), "rows.jsonl")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            for r in keep:
                f.write(json.dumps(r) + "\n")
        os.replace(tmp, path)
        return True

    def read_rows(self, table: str) -> list[dict]:
        return self._row_log(table)[0]

    def _row_log(self, table: str) -> tuple[list[dict], bool]:
        """The logged rows, and whether the final line was torn."""
        path = os.path.join(self._tdir(table), "rows.jsonl")
        if not os.path.exists(path):
            return [], False
        with open(path) as f:
            lines = [ln for ln in f if ln.strip()]
        out: list[dict] = []
        for i, ln in enumerate(lines):
            try:
                out.append(json.loads(ln))
            except json.JSONDecodeError:
                # a torn FINAL line is expected after a kill mid-append
                # (log_row is append-only); torn interior lines are real
                # corruption worth surfacing
                if i == len(lines) - 1:
                    return out, True
                raise
        return out, False


def snapshot_diff(
    old: "DataFrame",
    new: "DataFrame",
    key: str = "url",
    fp_col: str = "fp_md5",
) -> "DataFrame":
    """Crawl-to-crawl change detection: full-outer join two snapshot
    tables on `key` and classify each key as added / removed / changed /
    same by fingerprint — the delta a recrawl scheduler consumes
    (frontier.recrawl_priorities derives host change RATES; this is the
    row-level ledger those rates roll up from, and the shape of an
    incremental WARC-to-WARC diff at Common-Crawl scale).

    Scale shape: one shuffle keyed by `key` for the join; only
    (key, fingerprint) pairs move, never page bytes.  With both
    snapshots bucketed on `key` (layout.write_bucketed) the exchange
    disappears entirely.  Output keeps the two fingerprints so the
    classification is re-derivable."""
    from pyspark.sql import functions as F

    # presence is tracked by explicit side markers, NOT fingerprint
    # nullness — a present row whose fingerprint is NULL (fetch failed,
    # fp not yet backfilled) must not read as 'added'/'removed'; the
    # changed test is null-safe so NULL↔non-NULL reads as 'changed'
    o = old.select(
        F.col(key).alias("k"), F.col(fp_col).alias("old_fp"), F.lit(1).alias("_in_o")
    )
    n = new.select(
        F.col(key).alias("k"), F.col(fp_col).alias("new_fp"), F.lit(1).alias("_in_n")
    )
    j = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("_in_o").isNull(), F.lit("added"))
        .when(F.col("_in_n").isNull(), F.lit("removed"))
        .when(~F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select(
        F.col("k").alias(key),
        status.alias("status"),
        F.coalesce("old_fp", F.lit("")).alias("old_fp"),
        F.coalesce("new_fp", F.lit("")).alias("new_fp"),
    )


def snapshot_diff_sql(
    old_sql: str, new_sql: str, key: str = "url", fp_col: str = "fp_md5"
) -> str:
    return f"""
    WITH __sd_o AS (SELECT {key} AS k, {fp_col} AS old_fp, 1 AS _in_o
                    FROM ({old_sql})),
         __sd_n AS (SELECT {key} AS k, {fp_col} AS new_fp, 1 AS _in_n
                    FROM ({new_sql}))
    SELECT coalesce(__sd_o.k, __sd_n.k) AS {key},
           CASE WHEN __sd_o._in_o IS NULL THEN 'added'
                WHEN __sd_n._in_n IS NULL THEN 'removed'
                WHEN __sd_o.old_fp IS DISTINCT FROM __sd_n.new_fp THEN 'changed'
                ELSE 'same' END AS status,
           coalesce(__sd_o.old_fp, '') AS old_fp,
           coalesce(__sd_n.new_fp, '') AS new_fp
    FROM __sd_o FULL OUTER JOIN __sd_n ON __sd_o.k = __sd_n.k
    """
