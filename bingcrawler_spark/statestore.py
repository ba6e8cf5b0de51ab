"""Snapshot-versioned parquet tables — one atomic commit per wave.

The north rule calls for Iceberg tables checkpointed per wave. This image has
no Iceberg runtime jar, so the same semantics are provided by a minimal
snapshot store: each table is a directory of immutable snapshots
(``<wh>/<table>/snap-0000N/`` parquet), and ONE store manifest,
``<wh>/_manifest.json``, lists every table's live snapshots.  Its atomic
rename is the only commit point: `promote` lands all of a wave's tables
together or none of them, as an Iceberg REST catalog's multi-table
``transactions/commit`` does.  A kill anywhere leaves the store at the last
committed wave, so resume is "read the manifest".  On a real cluster the
calls map 1:1 to Iceberg (`stage` → write data files, `promote` → the
metadata swap, `read` → current snapshot, `n_rows` → the snapshot summary's
record count); swap the backend without touching the wave loop.

Append tables are the scale-critical piece: the seen-set and referrer edges
grow monotonically, so each wave writes ONLY its delta (write cost ∝ wave
size) and `read` unions the delta files — never an O(state) rewrite per
wave.  Only the frontier (bounded working set) is rewritten per wave.

Reads carry the schema and sizes: `stage` records the written DataFrame's
schema and the row count of the snapshot it just wrote (from its parquet
footers), and `promote` files both in the manifest entry.  So `read` hands
the schema to the parquet reader and launches no footer-reading inference
job, and `n_rows` sums the live snapshots' counts with no Spark job — the
analogue of an Iceberg table's schema and snapshot-summary record counts.

The manifest keeps only the entries whose data retention keeps on disk, so
its size is bounded by retention and compaction, not by the wave count.

Reference analogue: BDB SYNC transactions per op (UrlsDb.java:89-95,
Db.java:75-80) — durability unit there is one key, here one wave.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MANIFEST = "_manifest.json"
RETAIN_OVERWRITES = 4


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

    def manifest(self) -> dict | None:
        """The committed state: ``{"wave": w, "tables": {table: {"schemas":
        [...], "snapshots": [{id, wave, mode, schema, n_rows}, ...]}}}``,
        None for an empty store.  A warehouse written by the older
        per-table-manifest format is refused, never read as empty: a caller
        that bootstraps when the store is empty would truncate that crawl."""
        path = os.path.join(self.warehouse, MANIFEST)
        with contextlib.suppress(FileNotFoundError), open(path) as f:
            return json.load(f)
        if glob.glob(os.path.join(self.warehouse, "*", MANIFEST)):
            raise RuntimeError(
                f"{self.warehouse} holds per-table manifests of an older "
                "store format and no store manifest: bootstrap a new crawl "
                "there (truncate) or use another warehouse"
            )
        return None

    @property
    def wave(self) -> int:
        """The committed wave; -1 for an empty store."""
        man = self.manifest()
        return -1 if man is None else man["wave"]

    def _table(self, table: str) -> dict:
        man = self.manifest()
        if man is None or table not in man["tables"]:
            raise FileNotFoundError(f"table {table} has no snapshots")
        return man["tables"][table]

    # ---- commits ---------------------------------------------------------
    # A wave lands in two steps so callers can overlap the slow halves:
    #   stage()   — write one table's parquet data files (the executor work;
    #               minutes at scale) with NO manifest change.  Safe to run
    #               several tables' stages concurrently: a staged dir is
    #               invisible to readers until promoted.
    #   promote() — one atomic rename of the store manifest that lands every
    #               staged table of the wave.  THIS is the commit point; a
    #               kill before it leaves the previous wave, after it this one.
    # Iceberg analogue: stage = write data files + manifest list, promote =
    # the metadata-pointer swap that commits the snapshots.
    def stage(self, table: str, df: DataFrame, mode: str) -> dict:
        snap_id = _current(self.manifest(), table) + 1
        snap_dir = self._snap_dir(table, snap_id)
        df.write.mode("overwrite").parquet(snap_dir)
        # counted here, on the staging thread, not in promote: the footer
        # reads stay off the commit point
        n_rows, max_file_rows = _footer_rows(snap_dir)
        return {
            "table": table,
            "id": snap_id,
            "dir": snap_dir,
            "mode": mode,
            "schema": df.schema.json(),
            "n_rows": n_rows,
            "max_file_rows": max_file_rows,
        }

    def promote(self, tokens: list[dict], wave: int) -> None:
        """Commit staged snapshots as the state at `wave`: one manifest
        rename lands all of them or none.  Then every snapshot dir of their
        tables that the new manifest does not reference is deleted —
        expired by retention, or left by a killed wave's stage.  The
        deletes find the dirs by listing, so a kill before them leaks
        nothing: the next promote deletes them."""
        man = self.manifest() or {"wave": -1, "tables": {}}
        for tok in tokens:
            # single-writer invariant: nothing committed since this stage.
            # A real exception, not an assert — the guard protects manifest
            # integrity and must survive python -O.
            current = _current(man, tok["table"])
            if current + 1 != tok["id"]:
                raise RuntimeError(
                    f"stale stage token for {tok['table']!r}: token id "
                    f"{tok['id']} but manifest is at {current}"
                )
            t = man["tables"].setdefault(tok["table"], {"schemas": [], "snapshots": []})
            # the distinct schemas live once per table and entries index them
            if tok["schema"] not in t["schemas"]:
                t["schemas"].append(tok["schema"])
            entry = {
                "id": tok["id"],
                "wave": wave,
                "mode": tok["mode"],
                "schema": t["schemas"].index(tok["schema"]),
                "n_rows": tok["n_rows"],
            }
            t["snapshots"] = _since_overwrite(
                t["snapshots"] + [entry], RETAIN_OVERWRITES
            )
        man["wave"] = wave
        _write_atomic(os.path.join(self.warehouse, MANIFEST), man)
        for table in {tok["table"] for tok in tokens}:
            live = {
                self._snap_dir(table, s["id"])
                for s in man["tables"][table]["snapshots"]
            }
            for d in glob.glob(os.path.join(self._tdir(table), "snap-*")):
                if d not in live:
                    shutil.rmtree(d, ignore_errors=True)

    def discard(self, token: dict) -> None:
        """Drop a staged-but-not-promoted snapshot dir (abandoned wave)."""
        shutil.rmtree(token["dir"], ignore_errors=True)

    def truncate(self) -> None:
        """F9 clearDb (UrlsDb.java truncate semantics): drop every table and
        row log so a fresh bootstrap starts from nothing — append tables
        would otherwise keep prior rows live.  The manifest goes first, so
        a kill midway leaves an empty store, never a manifest that names
        deleted snapshots."""
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(self.warehouse, MANIFEST))
        for d in os.listdir(self.warehouse):
            if os.path.isdir(self._tdir(d)):
                shutil.rmtree(self._tdir(d), ignore_errors=True)

    # ---- reads -----------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        t = self._table(table)
        live = _since_overwrite(t["snapshots"], 1)
        # inference would read the footer of the first file in path order,
        # i.e. of the oldest live snapshot: its recorded schema is the same
        return self._reader(t["schemas"][live[0]["schema"]]).parquet(
            *[self._snap_dir(table, s["id"]) for s in live]
        )

    def n_rows(self, table: str) -> int:
        """Row count of the table's current state: the sum of its live
        snapshots' recorded counts, with no Spark job."""
        live = _since_overwrite(self._table(table)["snapshots"], 1)
        return sum(s["n_rows"] for s in live)

    def read_staged(self, token: dict) -> DataFrame:
        """A staged (not yet promoted) snapshot, read with its schema."""
        return self._reader(token["schema"]).parquet(token["dir"])

    def _reader(self, schema_json: str):
        schema = T.StructType.fromJson(json.loads(schema_json))
        return self.spark.read.schema(schema)

    # ---- driver-side row logs (metrics lineage) --------------------------
    # One-row-per-wave tables (wave metrics) don't justify a Spark job per
    # commit: each wave's row is its own small JSON file, written atomically
    # before the wave's promote, and materializes as a DataFrame on demand.
    # Readers see only the rows of committed waves, so a row left by a
    # killed wave is invisible, and the wave's re-run replaces it.

    def log_row(self, table: str, row: dict) -> None:
        os.makedirs(self._tdir(table), exist_ok=True)
        path = os.path.join(self._tdir(table), f"row-{row['wave']:08d}.json")
        _write_atomic(path, row)

    def read_rows(self, table: str) -> list[dict]:
        """The rows logged for committed waves, in wave order."""
        wave = self.wave
        rows = []
        for path in sorted(glob.glob(os.path.join(self._tdir(table), "row-*.json"))):
            with open(path) as f:
                rows.append(json.load(f))
        return [r for r in rows if r["wave"] <= wave]


def _current(man: dict | None, table: str) -> int:
    """Id of the table's current snapshot in `man`; -1 when it has none."""
    t = (man or {"tables": {}})["tables"].get(table)
    return t["snapshots"][-1]["id"] if t else -1


def _since_overwrite(snaps: list[dict], n: int) -> list[dict]:
    """The entries from the table's n-th newest overwrite on (every entry of
    a pure-append table).  n=1 is the live state; n=RETAIN_OVERWRITES is
    what retention keeps on disk (append deltas stay as long as a retained
    overwrite depends on them)."""
    overwrites = [i for i, s in enumerate(snaps) if s["mode"] == "overwrite"]
    return snaps[overwrites[-n:][0]:] if overwrites else snaps


def _write_atomic(path: str, obj) -> None:
    """Write `obj` as JSON to `path` durably: tmp file, fsync, rename."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic on POSIX


def _footer_rows(snap_dir: str) -> tuple[int, int]:
    """Total and largest per-file row count of a written snapshot dir, read
    from its parquet footers (each write partition is one file)."""
    rows = [
        pq.read_metadata(os.path.join(snap_dir, f)).num_rows
        for f in os.listdir(snap_dir)
        if f.endswith(".parquet")
    ]
    return sum(rows), max(rows, default=0)


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
