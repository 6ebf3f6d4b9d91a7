"""Versioned sink with atomic alias publish — the write-audit-publish side of
the reference (SURVEY §2.7 X5/X6/X8; reference ``flows/main_flow.py``:
``create_indexes`` 173-191, ``swap_indexes`` 524-557, ``delete_indexes``
195-214, ``cleanup_indexes`` 488-520).

Local model: each *generation* is a parquet directory ``{alias}_{timestamp}``
under a base dir; the *alias map* lives in ``manifest.json``. The manifest is
the commit point — it is replaced via write-temp-then-rename, which is atomic
on POSIX, so readers either see the old generation or the new one, never a
half-published state. In a production deployment the same driver-side calls
map onto the ES alias API (or a metastore/Delta commit); the Spark jobs
in between are identical.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Reference generation-name format (flows/main_flow.py:647).
TS_FORMAT = "%Y-%m-%dt%H.%M.%S"


def generation_timestamp(now: datetime | None = None) -> str:
    return (now or datetime.now()).strftime(TS_FORMAT)


@dataclass
class VersionedSink:
    base_dir: str
    # History mode: when True, publish() keeps the superseded generation on
    # disk (enabling read_as_of time travel; bound it with retain()). The
    # default mirrors the reference, which deletes the old index on swap.
    keep_history: bool = False

    # -- paths ------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.base_dir, "manifest.json")

    def generation_name(self, alias: str, timestamp: str) -> str:
        return f"{alias}_{timestamp}"

    def generation_path(self, generation: str) -> str:
        return os.path.join(self.base_dir, generation)

    # -- manifest (the atomic commit point) --------------------------------
    def read_manifest(self) -> dict[str, str]:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _write_manifest(self, manifest: dict[str, str]) -> None:
        os.makedirs(self.base_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.base_dir, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path())  # atomic on POSIX

    # -- write / publish / rollback ----------------------------------------
    def write_generation(
        self, df: DataFrame, alias: str, timestamp: str,
        partition_by: tuple[str, ...] | list[str] = (),
    ) -> str:
        """Write a new physical generation (not yet visible to readers),
        Hive-partitioned by the ``partition_by`` columns."""
        gen = self.generation_name(alias, timestamp)
        path = self.generation_path(gen)
        df.write.partitionBy(*partition_by).mode("overwrite").parquet(path)
        return gen

    def publish(
        self, alias: str, generation: str, drop_old: bool | None = None
    ) -> None:
        """Flip the alias to ``generation`` (the reference's put_alias +
        delete-old-generations, flows/main_flow.py:534-555). ``drop_old``
        defaults to the sink's history mode (``not keep_history``)."""
        if drop_old is None:
            drop_old = not self.keep_history
        manifest = self.read_manifest()
        old = manifest.get(alias)
        manifest[alias] = generation
        self._write_manifest(manifest)
        if drop_old and old and old != generation:
            self.drop_generation(old)

    def drop_generation(self, generation: str) -> None:
        """Physical cleanup; also the on-failure rollback hook (X5,
        reference flows/main_flow.py:195-214)."""
        shutil.rmtree(self.generation_path(generation), ignore_errors=True)

    # -- catalog ------------------------------------------------------------
    def list_generations(self) -> list[str]:
        if not os.path.isdir(self.base_dir):
            return []
        return sorted(
            d
            for d in os.listdir(self.base_dir)
            if os.path.isdir(os.path.join(self.base_dir, d))
        )

    def read_alias(
        self, spark: SparkSession, alias: str, schema: StructType | None = None
    ) -> DataFrame:
        """The published generation; a known ``schema`` spares the read its
        parquet schema-inference job."""
        manifest = self.read_manifest()
        if alias not in manifest:
            raise KeyError(f"alias {alias!r} not published")
        return self._read_generation(spark, manifest[alias], schema)

    def _read_generation(
        self, spark: SparkSession, generation: str, schema: StructType | None = None
    ) -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(self.generation_path(generation))
        # a generation that an earlier release wrote hash-bucketed lays its
        # files out under bucket=N/ dirs, which Spark reads back as a
        # `bucket` column; dropping it keeps such an alias readable as
        # (id, document) until the next merge or full sync rewrites it plain
        if "bucket" in df.columns:
            df = df.drop("bucket")
        return df

    def alias_exists(self, alias: str) -> bool:
        return alias in self.read_manifest()

    # -- time travel ---------------------------------------------------------
    def generations_of(self, alias: str) -> list[str]:
        """This alias's on-disk generations, oldest first (by the timestamp
        embedded in the generation name). Only meaningful history exists
        when publishes used ``drop_old=False`` (retention mode) — the
        default mirrors the reference and drops the superseded one."""
        prefix = f"{alias}_"
        out = []
        for gen in self.list_generations():
            if not gen.startswith(prefix):
                continue
            try:
                ts = datetime.strptime(gen[len(prefix):], TS_FORMAT)
            except ValueError:
                continue  # another alias sharing the prefix (a_b vs a)
            out.append((ts, gen))
        return [g for _, g in sorted(out)]

    def read_as_of(
        self, spark: SparkSession, alias: str, as_of: datetime | str
    ) -> DataFrame:
        """Time-travel read: the newest retained generation of ``alias``
        whose embedded timestamp is <= ``as_of`` (the lake-table AS OF
        semantics, mapped onto the sink's generation directories). The
        as-of axis is the GENERATION timestamp — deterministic and
        embedded in the name, so no commit-log wall clock is involved.
        Raises ``KeyError`` when no generation that old survives
        (pre-history, or retention already dropped it)."""
        if isinstance(as_of, str):
            as_of = datetime.strptime(as_of, TS_FORMAT)
        candidates = [
            gen
            for gen in self.generations_of(alias)
            if datetime.strptime(gen[len(alias) + 1 :], TS_FORMAT) <= as_of
        ]
        if not candidates:
            raise KeyError(
                f"no generation of {alias!r} at or before "
                f"{as_of.strftime(TS_FORMAT)} (retention may have dropped it)"
            )
        return self._read_generation(spark, candidates[-1])

    def retain(self, alias: str, keep: int) -> list[str]:
        """Retention maintenance for time travel: keep the newest ``keep``
        generations of ``alias`` (the published one is always kept, even
        if older than the cut), drop the rest. Returns dropped names."""
        if keep < 1:
            raise ValueError("keep must be >= 1")
        published = self.read_manifest().get(alias)
        gens = self.generations_of(alias)
        drop = [g for g in gens[:-keep] if g != published]
        for gen in drop:
            self.drop_generation(gen)
        return drop

    def compact(
        self,
        spark: SparkSession,
        alias: str,
        target_bytes: int = 128 * 1024 * 1024,
        now: datetime | None = None,
    ) -> str:
        """Rewrite the published generation of ``alias`` into
        ``ceil(size / target_bytes)`` files and atomically re-publish.

        Small-file compaction is the maintenance job every incremental
        sink needs at scale: each CDC merge writes a full generation whose
        file count tracks the shuffle parallelism, so a busy index
        accumulates far more files than its bytes justify and every
        downstream scan pays per-file open/footer costs. The rewrite rides
        the existing write-audit-publish path — readers see the old or the
        new generation, never a half-compacted directory — and the row
        count is reconciled before the flip (X7 discipline). Returns the
        new generation name."""
        df = self.read_alias(spark, alias)
        gen_dir = self.generation_path(self.read_manifest()[alias])
        # walked, not listed: a legacy bucketed generation keeps its files
        # in bucket=N/ subdirectories
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(gen_dir)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-size // target_bytes))
        expected = df.count()
        ts = generation_timestamp(now)
        if self.generation_name(alias, ts) == self.read_manifest()[alias]:
            # same-second collision would overwrite the directory being read
            ts = generation_timestamp(
                datetime.fromtimestamp(
                    (now or datetime.now()).timestamp() + 1
                )
            )
        gen = self.write_generation(df.repartition(n_files), alias, ts)
        actual = spark.read.parquet(self.generation_path(gen)).count()
        if actual != expected:
            self.drop_generation(gen)
            raise RuntimeError(
                f"compaction row mismatch for {alias}: {actual} != {expected}"
            )
        self.publish(alias, gen)
        return gen

    def cleanup_orphans(self, live_aliases: list[str]) -> list[str]:
        """Drop physical generations matching no live alias — the J1 anti
        join (reference flows/main_flow.py:499-501,515-518) applied to the
        local catalog. Published generations are always kept."""
        published = set(self.read_manifest().values())
        dropped = []
        for gen in self.list_generations():
            if gen in published:
                continue
            if not any(alias in gen for alias in live_aliases):
                self.drop_generation(gen)
                dropped.append(gen)
        return dropped
