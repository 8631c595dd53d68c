"""MERGE INTO-equivalent upsert + snapshot table (S6/S9 follow-through).

The reference has two conflict policies:

- skip-if-exists (scrapy pipelines.py:19-23: the file sink checks
  os.path.exists and returns — first writer wins);
- MySQL ``'dup' => ['timestamp' => time()]`` (reconstruction/crawler/
  crawler.php:143-190): INSERT ... ON DUPLICATE KEY UPDATE
  timestamp=..., i.e. on key conflict the existing row is KEPT but its
  timestamp column is refreshed.

`merge_into` re-expresses both (plus full-row replace) as one
DataFrame operator; `SnapshotTable` is the Iceberg stand-in that runs
the read-merge-commit cycle against versioned parquet snapshots with
an atomically-swapped pointer — on a cluster this maps 1:1 onto
``MERGE INTO t USING s ON <keys> WHEN MATCHED ... WHEN NOT MATCHED
INSERT *`` against a real Iceberg table, with the snapshot id giving
exactly-once resumability.

Scale notes: every policy is joins/anti-joins on the key columns —
one shuffle each, broadcastable when the source batch is small
(typical: a crawl round's new rows vs a huge target). No policy ever
rewrites unmatched target rows' payloads; `update_ts` touches only the
timestamp column via a left join, so wide target rows shuffle once.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def merge_into(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    when_matched: str = "skip",
    ts_col: str | None = None,
    source_order: list | None = None,
) -> DataFrame:
    """Upsert `source` into `target` on `key_cols`.

    when_matched:
    - "skip":      keep the target row on conflict (first-writer-wins;
                   pipelines.py:19-23). New keys are appended.
    - "update":    the source row replaces the whole target row
                   (ON DUPLICATE KEY UPDATE every field).
    - "update_ts": keep the target row's fields but refresh `ts_col`
                   from the source row — the literal crawler.php dup
                   policy ('dup' => ['timestamp' => time()]).

    `source_order` (optional sort columns) deduplicates a key-ambiguous
    source deterministically (first row per key by that order wins),
    mirroring the reference's sequential insert order; a key-unique
    source passes through untouched.
    """
    if when_matched not in ("skip", "update", "update_ts"):
        raise ValueError(f"unknown when_matched policy: {when_matched!r}")
    if when_matched == "update_ts" and not ts_col:
        raise ValueError("update_ts policy requires ts_col")
    if source_order is not None:
        w = Window.partitionBy(*key_cols).orderBy(*source_order)
        source = (
            source.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .drop("_rn")
        )
    source = source.select(*target.columns)

    if when_matched == "skip":
        new_rows = source.join(target.select(*key_cols), key_cols, "left_anti")
        return target.unionByName(new_rows)

    if when_matched == "update":
        kept = target.join(source.select(*key_cols), key_cols, "left_anti")
        return kept.unionByName(source)

    # update_ts: left join target against (keys, ts) of the source —
    # matched rows get the source timestamp, everything else unchanged;
    # then append the genuinely new source rows.
    src_ts = source.select(*key_cols, F.col(ts_col).alias("_src_ts"))
    refreshed = (
        target.join(src_ts, key_cols, "left")
        .withColumn(ts_col, F.coalesce("_src_ts", ts_col))
        .drop("_src_ts")
        .select(*target.columns)
    )
    new_rows = source.join(target.select(*key_cols), key_cols, "left_anti")
    return refreshed.unionByName(new_rows)


class SnapshotTable:
    """Versioned parquet table with an atomically-swapped latest
    pointer — the sandbox stand-in for an Iceberg table's snapshot
    chain. Each commit writes a new immutable ``v=N`` directory and
    re-points ``_latest`` via os.replace (atomic on POSIX), so readers
    never observe a half-written snapshot and any historical version
    stays readable (time travel / resume-from-snapshot)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def latest_version(self) -> int:
        ptr = os.path.join(self.path, "_latest")
        if not os.path.exists(ptr):
            return 0
        with open(ptr) as f:
            return json.load(f)["version"]

    def read(self, version: int | None = None) -> DataFrame | None:
        v = self.latest_version() if version is None else version
        if v == 0:
            return None
        vdir = os.path.join(self.path, f"v={v}")
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"snapshot v={v} of {self.path} was expired (or never "
                "committed) — time travel reaches only retained versions"
            )
        return self.spark.read.parquet(vdir)

    def commit(self, df: DataFrame, commit_ts: float | None = None) -> int:
        """Unconditional commit (single-writer path): next version,
        pointer swap. Multi-writer callers use merge()/try_commit."""
        v = self.latest_version() + 1
        self._write_version(df, v, commit_ts)
        self._swap_pointer(v)
        return v

    def _write_version(
        self, df: DataFrame, v: int, commit_ts: float | None
    ) -> None:
        import time

        vdir = os.path.join(self.path, f"v={v}")
        df.write.mode("overwrite").parquet(vdir)
        with open(os.path.join(vdir, "_commit_meta.json"), "w") as f:
            json.dump(
                {
                    "version": v,
                    "ts": time.time() if commit_ts is None else commit_ts,
                },
                f,
            )

    def _swap_pointer(self, v: int) -> None:
        tmp = os.path.join(self.path, "_latest.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": v}, f)
        os.replace(tmp, os.path.join(self.path, "_latest"))

    def commit_ts(self, v: int) -> float | None:
        meta = os.path.join(self.path, f"v={v}", "_commit_meta.json")
        if not os.path.exists(meta):
            return None
        with open(meta) as f:
            return json.load(f)["ts"]

    def try_commit(
        self,
        df: DataFrame,
        base_version: int,
        commit_ts: float | None = None,
    ) -> int | None:
        """Optimistic-concurrency commit, the Iceberg protocol: the
        new snapshot's data files are written first (safe — nothing
        references them), then the pointer swaps ONLY IF the table is
        still at ``base_version``; a concurrent writer who advanced it
        makes this return None and the caller re-merges against the
        new base (see merge()). The check-and-swap critical section is
        serialized by an O_CREAT|O_EXCL lock file — the stand-in for
        the catalog's atomic compare-and-swap; the data write, like
        Iceberg's, happens OUTSIDE the lock, so writers never hold the
        lock during the heavy work."""
        import shutil
        import time

        v = base_version + 1
        # Data files land in a writer-unique staging dir (two racing
        # writers sharing a base would otherwise overwrite each
        # other's identically-named v-dir); the version NAME is
        # claimed only inside the lock, by an atomic directory
        # rename — Iceberg's uniquely-named-data-files +
        # metadata-swap split.
        staging = os.path.join(
            self.path, f"_staging-{os.getpid()}-{time.monotonic_ns()}"
        )
        df.write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, "_commit_meta.json"), "w") as f:
            json.dump(
                {
                    "version": v,
                    "ts": time.time() if commit_ts is None else commit_ts,
                },
                f,
            )
        lock = os.path.join(self.path, "_commit.lock")
        deadline = time.time() + 30.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.time() > deadline:
                    shutil.rmtree(staging, ignore_errors=True)
                    raise TimeoutError(
                        f"commit lock {lock} held too long — a crashed "
                        "writer left it behind; remove it to recover"
                    )
                time.sleep(0.01)
        try:
            if self.latest_version() != base_version:
                shutil.rmtree(staging, ignore_errors=True)
                return None  # lost the race
            os.rename(staging, os.path.join(self.path, f"v={v}"))
            self._swap_pointer(v)
            return v
        finally:
            os.close(fd)
            os.unlink(lock)

    def merge(
        self,
        source: DataFrame,
        key_cols: list[str],
        when_matched: str = "skip",
        max_retries: int = 5,
        **kwargs,
    ) -> int:
        """MERGE INTO this table: read latest snapshot, merge, commit —
        with Iceberg-style optimistic retry under concurrent writers.
        A racing MERGE that commits first simply becomes part of this
        writer's next base snapshot, so both writers' rows land and
        the when_matched policy (e.g. the crawler.php:143-190
        'dup' => timestamp-refresh as "update_ts") is applied in
        commit order — last committer's timestamps win, exactly the
        serializable outcome two racing crawler.php inserts produce
        through MySQL's row locks. First commit just writes the
        source."""
        for _ in range(max_retries + 1):
            base = self.latest_version()
            current = self.read(base) if base else None
            merged = (
                source
                if current is None
                else merge_into(
                    current, source, key_cols, when_matched, **kwargs
                )
            )
            v = self.try_commit(merged, base_version=base)
            if v is not None:
                return v
        raise RuntimeError(
            f"merge lost {max_retries + 1} optimistic-commit races; "
            "raise max_retries or reduce writer contention"
        )

    def expire_snapshots(
        self,
        keep_last: int | None = None,
        older_than_ts: float | None = None,
    ) -> list[int]:
        """Snapshot expiry / GC — the engine's analog of the
        reference's retention job (clearpic.php:38-77: delete
        news pictures whose day_time is past a 5-day cutoff, storage
        object first, then the DB record, tolerating already-deleted
        objects). Here: drop historical ``v=N`` snapshot directories
        that are (a) older than ``older_than_ts`` (commit-time cutoff,
        the clearpic rule) and/or (b) beyond the newest ``keep_last``
        versions — but NEVER the latest snapshot, which time-travel
        reads and resumes may still pin. A version must meet every
        rule given; one with no recorded commit time (no
        ``_commit_meta.json``) has no provable age, so the age rule
        never expires it. Idempotent: an already-removed version is
        skipped silently (the err 612 branch). Returns the versions
        removed."""
        import shutil

        if keep_last is None and older_than_ts is None:
            raise ValueError(
                "expire_snapshots needs keep_last and/or older_than_ts"
            )
        if keep_last is not None and keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        latest = self.latest_version()
        removed: list[int] = []
        for v in range(1, latest):
            vdir = os.path.join(self.path, f"v={v}")
            if not os.path.isdir(vdir):
                continue  # already expired — idempotence
            if keep_last is not None and v > latest - keep_last:
                continue
            if older_than_ts is not None:
                ts = self.commit_ts(v)
                if ts is None or ts >= older_than_ts:
                    continue
            shutil.rmtree(vdir)
            removed.append(v)
        return removed


# ---------------------------------------------------------------------------
# Flag-gated Iceberg backend (SURVEY §7 M0 seam)
# ---------------------------------------------------------------------------

def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the classpath —
    the precondition for catalog='iceberg'. This sandbox ships no
    Iceberg jar, so the parquet stand-in is exercised here and the
    Iceberg half of the parametrized test skips."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — jar probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergSnapshotTable:
    """The same four-method surface as SnapshotTable over a REAL
    Iceberg table: snapshot ids instead of v=N directories, SQL
    ``MERGE INTO`` instead of the DataFrame merge, ``VERSION AS OF``
    time travel instead of directory reads. Requires the Iceberg
    Spark runtime + a configured catalog
    (spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog).

    Policy mapping (merge_into -> MERGE INTO):
    - skip:      WHEN NOT MATCHED THEN INSERT *
    - update:    WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *
    - update_ts: WHEN MATCHED THEN UPDATE SET t.<ts> = s.<ts>
                 WHEN NOT MATCHED THEN INSERT *
    """

    def __init__(self, spark: SparkSession, table: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "catalog='iceberg' needs the Iceberg Spark runtime jar "
                "and a configured spark.sql.catalog; falling back is the "
                "caller's choice (snapshot_table(catalog='parquet'))"
            )
        self.spark = spark
        self.table = table

    def latest_version(self) -> int:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(rows[0][0]) if rows else 0

    def read(self, version: int | None = None) -> DataFrame | None:
        try:
            if version is None:
                return self.spark.table(self.table)
            return self.spark.read.option("snapshot-id", version).table(
                self.table
            )
        except Exception:
            # not-yet-created table reads as None, matching the
            # parquet stand-in's empty-pointer behavior
            if version is None:
                return None
            raise

    def commit(self, df: DataFrame) -> int:
        df.writeTo(self.table).createOrReplace()
        return self.latest_version()

    def merge(
        self,
        source: DataFrame,
        key_cols: list[str],
        when_matched: str = "skip",
        ts_col: str | None = None,
        source_order: list | None = None,
    ) -> int:
        if when_matched not in ("skip", "update", "update_ts"):
            raise ValueError(f"unknown when_matched: {when_matched!r}")
        src = source
        if source_order is not None:
            w = Window.partitionBy(*key_cols).orderBy(*source_order)
            src = (
                src.withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1")
                .drop("_rn")
            )
        if self.read() is None:  # bootstrap: first commit IS the source
            return self.commit(src)
        src.createOrReplaceTempView("_merge_source")
        on = " AND ".join(f"t.{c} = s.{c}" for c in key_cols)
        matched = {
            "skip": "",
            "update": "WHEN MATCHED THEN UPDATE SET *",
            "update_ts": (
                f"WHEN MATCHED THEN UPDATE SET t.{ts_col} = s.{ts_col}"
            ),
        }[when_matched]
        self.spark.sql(
            f"MERGE INTO {self.table} t USING _merge_source s ON {on} "
            f"{matched} WHEN NOT MATCHED THEN INSERT *"
        )
        return self.latest_version()


def snapshot_table(
    spark: SparkSession, location: str, catalog: str = "parquet"
):
    """The M0 seam: one constructor, two backends. catalog='iceberg'
    returns an IcebergSnapshotTable over a catalog table identifier
    (raising if the runtime jar is absent); catalog='parquet' (the
    sandbox default) returns the versioned-parquet SnapshotTable over
    a filesystem path. Both expose latest_version/read/commit/merge
    with identical semantics (tests/test_merge_posfilter.py
    parametrizes the same scenario over both)."""
    if catalog == "iceberg":
        return IcebergSnapshotTable(spark, location)
    if catalog == "parquet":
        return SnapshotTable(spark, location)
    raise ValueError(f"unknown catalog: {catalog!r}")
