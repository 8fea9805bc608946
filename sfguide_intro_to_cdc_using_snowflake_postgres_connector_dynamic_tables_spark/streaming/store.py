"""Versioned parquet table store -- the engine's managed-table layer.

The reference's destination tables and Dynamic Table live in Snowflake
managed storage; our equivalent is a directory of immutable parquet
data plus an atomically-swapped version pointer.  Two layouts:

Unpartitioned (full-snapshot) tables::

    root/<table>/v<N>/part-*.parquet
    root/<table>/_VERSION         (text file containing N)

Hash-partitioned tables (``overwrite(..., partition_key=...)``)::

    root/<table>/w<N>-<uuid>/__part=<b>/part-*.parquet   (data stages)
    root/<table>/manifest-v<N>.json                      (bucket -> dir)
    root/<table>/_VERSION

A partitioned version is a MANIFEST mapping each hash bucket of the
merge key to the immutable directory holding its rows.  ``merge``
rewrites only the buckets touched by a change batch and carries every
other bucket's directory reference forward unchanged -- write I/O per
refresh is O(delta partitions), not O(table), which is the same
row-group-pruned MERGE contract as Snowflake/Delta/Iceberg
(``notebooks/0_start_here.ipynb:218`` REFRESH_MODE=INCREMENTAL), here
with plain parquet + a JSON manifest standing in for the table format.

Commit protocol (both layouts): write data (and manifest) fully, then
``os.replace`` the version pointer -- readers either see v<N> or
v<N+1>, never a torn write, and a refresh that crashes mid-write
leaves only an unreferenced stage directory that the next commit's GC
removes.  That gives the exactly-once materialization property
SURVEY.md section 4.2 requires without a table-format dependency.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentWriteError(RuntimeError):
    """Another writer holds (or already committed) the target version.

    The caller should re-read ``current_version`` and retry its whole
    operation against the new snapshot -- the standard optimistic-
    concurrency loop (what Delta/Iceberg surface as
    ConcurrentModificationException)."""


class ParquetTableStore:
    def __init__(
        self, root: str, keep_versions: int = 2, claim_ttl_sec: float = 600.0
    ) -> None:
        """``claim_ttl_sec``: a version claim older than this whose
        version never committed is treated as a crashed writer's
        leftover and stolen; live writers finish far sooner, crashed
        ones never do."""
        self.root = root
        self.keep_versions = keep_versions
        self.claim_ttl_sec = claim_ttl_sec
        #: claim tokens this INSTANCE currently holds, keyed by
        #: (table, version); _write_manifest/_commit verify the marker
        #: on disk still carries our token so a stolen claim aborts
        #: before it can clobber the thief's manifest or commit.
        self._held_claims: dict[tuple[str, int], str] = {}
        os.makedirs(root, exist_ok=True)

    # -- version bookkeeping -------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _version_file(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_VERSION")

    def current_version(self, name: str) -> int | None:
        try:
            with open(self._version_file(name)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _manifest_path(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), f"manifest-v{version}.json")

    def _read_manifest(self, name: str, version: int) -> dict | None:
        try:
            with open(self._manifest_path(name, version)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_manifest(self, name: str, version: int, manifest: dict) -> None:
        """Write ``manifest-v<version>`` under claim-ownership proof.

        The claim token is re-verified immediately before the file
        lands, and the manifest is created with ``os.link`` (fails if
        present) rather than a clobbering replace -- so a writer whose
        claim was TTL-stolen mid-write aborts instead of overwriting
        the thief's manifest after the thief committed.  A pre-existing
        manifest is either our own leftover from a failed earlier
        attempt at the same version or a crashed writer's orphan whose
        claim we TTL-stole -- in both cases we hold the claim, so only
        then is it replaced.  The verify->link window is microseconds, the
        filesystem-portable best effort; on object stores substitute a
        conditional PUT at this seam (see SCALE.md)."""
        tdir = self._table_dir(name)
        fd, tmp = tempfile.mkstemp(dir=tdir, prefix="_manifest.")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        target = self._manifest_path(name, version)
        try:
            self._verify_claim(name, version)
            try:
                os.link(tmp, target)
            except FileExistsError:
                self._verify_claim(name, version)
                os.replace(tmp, target)
                return
            os.unlink(tmp)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    def _claim_path(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), f"commit-claim-v{version}")

    def _claim_version(self, name: str, version: int, _retry: bool = True) -> str:
        """Exclusively claim ``version`` before writing its manifest;
        returns the claim token this writer must keep proving.

        Two writers that both computed ``current + 1`` would otherwise
        overwrite each other's manifest and the last pointer swap would
        silently drop the first commit (lost update).  ``O_EXCL``
        creation of the claim marker makes exactly one of them proceed;
        the loser gets ConcurrentWriteError and must re-read + retry.
        A marker whose version never committed within ``claim_ttl_sec``
        is a crashed writer's leftover: it is stolen via rename (itself
        atomic -- only one stealer's rename succeeds).

        Even a SUCCESSFUL marker creation is re-validated against the
        committed version: a writer delayed long enough that its target
        version committed AND aged past retention (its claim marker
        GC'd) would otherwise re-create the marker and roll the table
        back over newer commits.
        """
        marker = self._claim_path(name, version)
        try:
            fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            token = uuid.uuid4().hex
            with os.fdopen(fd, "w") as f:
                f.write(f"{token} {time.time()}")
            # register ownership BEFORE the resurrection check so the
            # token-verifying _release_claim below can unlink our marker
            self._held_claims[(name, version)] = token
            cur = self.current_version(name)
            if cur is not None and cur >= version:
                # the marker we just created is a resurrection: this
                # version committed long ago and its marker was GC'd
                self._release_claim(name, version)
                raise ConcurrentWriteError(
                    f"{name} v{version} was already committed (current is "
                    f"v{cur}); its claim marker had aged out -- re-read and retry"
                )
            return token
        except FileExistsError:
            pass
        cur = self.current_version(name)
        if cur is not None and cur >= version:
            raise ConcurrentWriteError(
                f"{name} v{version} was already committed by another writer; "
                f"current is v{cur} -- re-read and retry"
            )
        try:
            age = time.time() - os.path.getmtime(marker)
        except OSError:
            # claim vanished between create-attempt and stat (committer
            # GC'd it, or a stealer won): try once more, then give up
            if _retry:
                return self._claim_version(name, version, _retry=False)
            raise ConcurrentWriteError(f"claim on {name} v{version} is contended")
        if age > self.claim_ttl_sec:
            try:
                os.rename(marker, f"{marker}.stale-{uuid.uuid4().hex[:8]}")
            except OSError as e:
                raise ConcurrentWriteError(
                    f"stale claim on {name} v{version} was stolen by another writer"
                ) from e
            # NOTE: a crashed writer may have left an uncommitted
            # manifest for this version.  Deliberately NOT unlinked
            # here: the owner-of-record check preceding this point is
            # stale by the time the rename lands, so an unlink could
            # destroy the manifest of a slow writer that committed in
            # between.  _write_manifest's FileExistsError branch
            # replaces orphans under claim-ownership proof instead.
            if _retry:
                return self._claim_version(name, version, _retry=False)
        raise ConcurrentWriteError(
            f"another writer holds a live claim on {name} v{version} "
            f"(age {age:.0f}s < ttl {self.claim_ttl_sec:.0f}s)"
        )

    def _release_claim(self, name: str, version: int) -> None:
        """Release OUR claim: unlink the marker only while it still
        carries this instance's token.  An unconditional unlink would
        let a TTL-stolen writer's abort path delete the THIEF's live
        marker -- its own retry loop could then re-claim the version
        while the thief is mid-write, re-opening the lost-update race
        the claim protocol exists to close."""
        token = self._held_claims.pop((name, version), None)
        if token is None:
            return
        marker = self._claim_path(name, version)
        try:
            with open(marker) as f:
                held = f.read().split(" ", 1)[0]
            if held == token:
                os.unlink(marker)
        except OSError:
            pass

    def _verify_claim(self, name: str, version: int) -> None:
        """Prove the on-disk claim marker still carries OUR token.

        A writer that outlives ``claim_ttl_sec`` mid-write has its
        claim stolen; without this check it would finish by clobbering
        the thief's manifest and re-committing the version (two
        writers, one version, last writer silently wins).  Called
        immediately before every manifest write and pointer swap."""
        token = self._held_claims.get((name, version))
        if token is None:
            raise ConcurrentWriteError(
                f"writer does not hold a claim on {name} v{version}"
            )
        try:
            with open(self._claim_path(name, version)) as f:
                held = f.read().split(" ", 1)[0]
        except OSError as e:
            raise ConcurrentWriteError(
                f"claim on {name} v{version} disappeared mid-write "
                "(stolen after ttl expiry?) -- aborting without commit"
            ) from e
        if held != token:
            raise ConcurrentWriteError(
                f"claim on {name} v{version} now belongs to another writer "
                "(stolen after ttl expiry) -- aborting without commit"
            )

    @staticmethod
    def _manifest_schema(m: dict | None):
        """StructType recorded in a manifest (r14+ ``schema`` key);
        None for pre-r14 manifests, which fall back to footer-inferred
        / mergeSchema reads."""
        if m and "schema" in m:
            from pyspark.sql.types import StructType

            return StructType.fromJson(m["schema"])
        return None

    @staticmethod
    def _read_parquet(spark: SparkSession, paths: list[str], schema) -> DataFrame:
        """Parquet read under the manifest-recorded schema when one is
        available: the explicit schema skips the per-read footer
        inference job (and mergeSchema's every-file footer sweep --
        one Spark job per store read, ~19 of the CDC drive's 84 jobs
        per tick before r14), while files predating an ADD COLUMN
        still surface the missing columns as NULLs exactly as
        mergeSchema did."""
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def _evolved_schema_dir(
        self, spark: SparkSession, tdir: str, m: dict, rows: DataFrame, stage: str
    ) -> tuple[str, dict]:
        """Schema evolution for incremental writes: if ``rows``
        introduce columns the current schema lacks, stamp a fresh
        union-schema marker under ``stage`` (so empty / fully-pruned
        reads see the evolved column set) and return its dir; otherwise
        carry the manifest's marker forward.  Called only by
        ``_write_buckets`` for its incremental form, so merge() and
        optimize(buckets=...) share ONE evolution rule
        that can never diverge between them (ADVICE r4).  Returns
        ``(schema_dir, schema_json)``
        with the (possibly evolved) union schema for the new manifest;
        when the manifest already records its schema the old zero-row
        marker is never read (no footer job)."""
        schema_dir = m["schema_dir"]
        old_schema = self._manifest_schema(m)
        if old_schema is not None:
            old_cols = set(old_schema.names)
            marker = None
        else:
            marker = spark.read.parquet(os.path.join(tdir, schema_dir))
            old_schema = marker.schema
            old_cols = set(marker.columns)
        if set(rows.columns) - old_cols:
            schema_dir = f"{stage}-schema"
            if marker is None:
                marker = spark.createDataFrame([], old_schema)
            union = marker.limit(0).unionByName(
                rows.limit(0), allowMissingColumns=True
            )
            union.write.parquet(os.path.join(tdir, schema_dir))
            return schema_dir, union.schema.jsonValue()
        return schema_dir, old_schema.jsonValue()

    @contextlib.contextmanager
    def _claimed(self, name: str, version: int):
        """Claim ``version`` for the duration of a write.  On failure
        the claim is RELEASED so the caller's retry loop is not wedged
        behind its own dead marker for claim_ttl_sec; on success the
        marker stays (committed versions keep their marker while
        retained -- see _gc)."""
        self._claim_version(name, version)
        try:
            yield
        except BaseException:
            self._release_claim(name, version)
            raise

    def _commit(self, name: str, version: int) -> None:
        self._verify_claim(name, version)
        vf = self._version_file(name)
        fd, tmp = tempfile.mkstemp(dir=self._table_dir(name), prefix="_VERSION.")
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        os.replace(tmp, vf)  # atomic pointer swap = the commit point
        self._held_claims.pop((name, version), None)
        self._gc(name, version)

    def _gc(self, name: str, current: int) -> None:
        tdir = self._table_dir(name)
        floor = current - self.keep_versions
        # group-pinned versions survive retention: a consistent-read
        # group manifest may lawfully point below the floor (e.g. a
        # crash between a transaction's per-table merges delays the
        # group re-commit by one apply)
        pinned = self._group_pinned_versions(name)
        # referenced stage dirs across all KEPT partitioned versions
        referenced: set[str] = set()
        kept_any_manifest = False
        for v in sorted(set(range(max(1, floor + 1), current + 1)) | pinned):
            m = self._read_manifest(name, v)
            if m is None:
                continue
            if "partitions" not in m:
                continue  # schema-only manifest of a non-partitioned version
            kept_any_manifest = True
            for rel in list(m["partitions"].values()) + [m["schema_dir"]]:
                referenced.add(rel.split("/", 1)[0])
        for entry in os.listdir(tdir):
            path = os.path.join(tdir, entry)
            if entry.startswith("v") and entry[1:].isdigit():
                if int(entry[1:]) <= floor and int(entry[1:]) not in pinned:
                    shutil.rmtree(path, ignore_errors=True)
            elif entry.startswith("manifest-v"):
                v = int(entry[len("manifest-v"):-len(".json")])
                if v <= floor and v not in pinned:
                    os.unlink(path)
            elif entry.startswith("commit-claim-"):
                # a committed version KEEPS its claim marker while the
                # version is retained: a writer that computed its target
                # from a stale pointer read then hits FileExistsError ->
                # "already committed" instead of silently reclaiming.
                # Only markers below the retention floor (and spent
                # stolen markers) are removed.
                if ".stale-" in entry:
                    os.unlink(path)
                else:
                    cv = int(entry[len("commit-claim-v"):])
                    if cv <= floor:
                        os.unlink(path)
            elif entry.startswith("w") and "-" in entry and kept_any_manifest:
                # stage dir: drop if no kept manifest references it (old
                # versions and crash orphans alike)
                if entry not in referenced:
                    shutil.rmtree(path, ignore_errors=True)

    # -- public API ----------------------------------------------------------

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def partition_spec(self, name: str) -> tuple[str, int] | None:
        """(key, n_buckets) for a partitioned table, else None."""
        v = self.current_version(name)
        if v is None:
            return None
        m = self._read_manifest(name, v)
        if m is None or "key" not in m:
            return None  # no manifest, or a schema-only (non-partitioned) one
        return m["key"], m["n_buckets"]

    def _read_version(self, spark: SparkSession, name: str, v: int) -> DataFrame:
        m = self._read_manifest(name, v)
        tdir = self._table_dir(name)
        if m is None:
            return spark.read.parquet(os.path.join(tdir, f"v{v}"))
        schema = self._manifest_schema(m)
        if "partitions" not in m:
            # non-partitioned version with a schema-bearing manifest
            return self._read_parquet(spark, [os.path.join(tdir, f"v{v}")], schema)
        paths = [os.path.join(tdir, rel) for rel in m["partitions"].values()]
        # the zero-row schema marker makes empty/partial tables readable
        paths.append(os.path.join(tdir, m["schema_dir"]))
        # manifest schema (r14+) avoids the footer sweep; pre-r14
        # manifests fall back to mergeSchema, which reconciles buckets
        # straddling a schema evolution at per-file footer cost
        return self._read_parquet(spark, paths, schema)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name!r} has no committed version under {self.root}")
        return self._read_version(spark, name, v)

    # -- consistent multi-table snapshots (group commits) --------------------
    #
    # Per-table version pointers swap independently, so a reader joining
    # two replicated tables between a transaction's two merges can see
    # half of it (the order without its lineitems).  A GROUP is a second,
    # atomically-swapped pointer over a SET of tables: ``commit_group``
    # publishes {table: current version} as one manifest, and
    # ``read_group`` resolves every table through that manifest -- readers
    # see the whole group pre- or post-commit, never a mix.  The CDC
    # pipeline commits the group once per micro-batch AFTER all per-table
    # merges, making each batch's transactions visible atomically.
    # ``_gc`` exempts group-pinned versions from retention so a crash
    # between merges can never strand the group manifest on a deleted
    # version.

    def _groups_dir(self) -> str:
        return os.path.join(self.root, "_groups")

    def _group_version_file(self, group: str) -> str:
        return os.path.join(self._groups_dir(), f"{group}.version")

    def _group_manifest_path(self, group: str, v: int) -> str:
        return os.path.join(self._groups_dir(), f"{group}-manifest-v{v}.json")

    def current_group_version(self, group: str) -> int | None:
        try:
            with open(self._group_version_file(group)) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def group_versions(self, group: str) -> dict[str, int]:
        """{table: pinned version} of the group's latest snapshot."""
        gv = self.current_group_version(group)
        if gv is None:
            raise FileNotFoundError(f"group {group!r} has no committed snapshot")
        with open(self._group_manifest_path(group, gv)) as f:
            return {t: int(v) for t, v in json.load(f).items()}

    def commit_group(self, group: str, tables: list[str]) -> int:
        """Atomically publish the CURRENT versions of ``tables`` as the
        group's snapshot.  One ``os.replace`` of the group pointer:
        concurrent ``read_group`` callers resolve entirely against the
        old snapshot or entirely against the new one."""
        versions: dict[str, int] = {}
        for t in tables:
            v = self.current_version(t)
            if v is None:
                raise FileNotFoundError(f"group member {t!r} has no committed version")
            versions[t] = v
        os.makedirs(self._groups_dir(), exist_ok=True)
        gv = (self.current_group_version(group) or 0) + 1
        mpath = self._group_manifest_path(group, gv)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(versions, f)
        os.replace(tmp, mpath)
        vtmp = self._group_version_file(group) + ".tmp"
        with open(vtmp, "w") as f:
            f.write(str(gv))
        os.replace(vtmp, self._group_version_file(group))
        # prune superseded group manifests (keep the live one plus one
        # back, mirroring table retention)
        for entry in os.listdir(self._groups_dir()):
            if entry.startswith(f"{group}-manifest-v") and entry.endswith(".json"):
                old = int(entry[len(f"{group}-manifest-v"):-len(".json")])
                if old <= gv - 2:
                    os.unlink(os.path.join(self._groups_dir(), entry))
        return gv

    def read_group(self, spark: SparkSession, group: str, name: str) -> DataFrame:
        """Read ``name`` at the version pinned by the group snapshot --
        consistent across every table the group covers."""
        versions = self.group_versions(group)
        if name not in versions:
            raise KeyError(f"table {name!r} is not part of group {group!r}")
        return self._read_version(spark, name, versions[name])

    def _group_pinned_versions(self, name: str) -> set[int]:
        """Versions of ``name`` referenced by any retained group
        manifest (these must survive _gc regardless of retention)."""
        pinned: set[int] = set()
        try:
            entries = os.listdir(self._groups_dir())
        except OSError:
            return pinned
        for entry in entries:
            if "-manifest-v" not in entry or not entry.endswith(".json"):
                continue
            try:
                with open(os.path.join(self._groups_dir(), entry)) as f:
                    versions = json.load(f)
                if name in versions:
                    pinned.add(int(versions[name]))
            except (OSError, ValueError):
                continue
        return pinned

    def _manifest_bucket_paths(self, name: str, m: dict, bucket_ids) -> list[str]:
        tdir = self._table_dir(name)
        return [
            os.path.join(tdir, m["partitions"][str(b)])
            for b in bucket_ids
            if str(b) in m["partitions"]
        ]

    # -- zone maps (per-bucket min/max pruning on NON-KEY columns) -----------

    @staticmethod
    def _zone_value(v):
        """JSON-safe zone bound: dates/timestamps as ISO strings (whose
        lexicographic order is chronological), numbers/strings as-is."""
        import datetime as _dt

        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
        return v

    def _bucket_zones(
        self, spark: SparkSession, stage_dir: str, zone_cols: list[str]
    ) -> dict:
        """Per-bucket min/max of ``zone_cols`` for every bucket written
        under ``stage_dir``: one grouped aggregate over the freshly
        written files, collecting <= n_buckets rows.  Columns a write
        doesn't carry (pre-evolution rows) simply get no stats -- the
        reader treats missing stats as must-scan."""
        df = spark.read.parquet(stage_dir)
        aggs = []
        present = [c for c in zone_cols if c in df.columns]
        for c in present:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        if not aggs:
            return {}
        out: dict = {}
        for r in df.groupBy("__part").agg(*aggs).collect():
            out[str(r["__part"])] = {
                c: [self._zone_value(r[f"__mn_{c}"]), self._zone_value(r[f"__mx_{c}"])]
                for c in present
            }
        return out

    def _file_zones(
        self, spark: SparkSession, stage_dir: str, tdir: str, zone_cols: list[str]
    ) -> dict:
        """Per-FILE min/max of ``zone_cols`` under ``stage_dir``, keyed
        {bucket: {table-relative file path: {col: [min, max]}}} -- the
        sub-bucket layer of the zone map, recorded by ``optimize`` when
        rows were clustered within each bucket (so each file covers a
        tight value range).  One grouped aggregate over the staged
        files; O(#files) rows collected."""
        df = spark.read.parquet(stage_dir)
        present = [c for c in zone_cols if c in df.columns]
        if not present:
            return {}
        aggs = []
        for c in present:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        out: dict = {}
        for r in (
            df.withColumn("__f", F.input_file_name())
            .groupBy("__part", "__f")
            .agg(*aggs)
            .collect()
        ):
            p = r["__f"]
            if p.startswith("file:"):
                p = p[len("file:"):]
                while p.startswith("//"):  # file:///x -> /x
                    p = p[1:]
            rel = os.path.relpath(p, tdir)
            out.setdefault(str(r["__part"]), {})[rel] = {
                c: [self._zone_value(r[f"__mn_{c}"]), self._zone_value(r[f"__mx_{c}"])]
                for c in present
            }
        return out

    def read_pruned(
        self,
        spark: SparkSession,
        name: str,
        col: str,
        lower=None,
        upper=None,
    ) -> DataFrame:
        """Zone-map-pruned scan: read only the buckets whose recorded
        ``[min, max]`` for ``col`` overlaps ``[lower, upper]`` (both
        bounds inclusive; ``None`` = unbounded), then apply the exact
        filter.  Buckets without stats for ``col`` (no zone_cols
        declared, or pre-evolution writes) are always scanned --
        pruning is an optimization, never a correctness dependency.
        The storage-layer analogue of parquet row-group min/max
        pruning, one level up: at 100 TB a selective range predicate
        opens the few overlapping bucket directories instead of the
        table.

        After ``optimize(zorder_cols=[...])`` the manifest also carries
        per-FILE stats (``file_zones``) for the optimized buckets:
        rows are date-clustered within each hash bucket, so a
        selective range probe opens only the few matching FILES of
        each surviving bucket instead of the whole bucket directory --
        the layout answer to hash-bucketed fact tables where every
        bucket contains every date and bucket-level stats stop
        pruning.  Buckets rewritten by a later ``merge``
        lose file granularity until the next optimize (standard
        compaction model); they fall back to whole-directory reads."""
        # paths and schema must come from ONE version read: a writer
        # committing between two current_version() calls could pair
        # version v's file paths with version v+1's schema (a
        # just-added column read all-NULL from old files, or a pruned
        # path set inconsistent with the schema) -- so _pruned_paths
        # hands back the manifest it resolved the paths from
        # (ADVICE r14).
        paths, _stats, m = self._pruned_paths(name, col, lower, upper)
        df = self._read_parquet(spark, paths, self._manifest_schema(m))
        if lower is not None:
            df = df.filter(F.col(col) >= F.lit(lower))
        if upper is not None:
            df = df.filter(F.col(col) <= F.lit(upper))
        return df

    def _pruned_paths(self, name: str, col: str, lower, upper):
        """(paths to scan, pruning stats, manifest) for a zone-pruned
        read -- shared by ``read_pruned`` and ``prune_plan``.  The
        manifest is returned so callers derive everything else (the
        read schema, above all) from the SAME version read that
        resolved the paths."""
        v = self.current_version(name)
        m = self._read_manifest(name, v) if v is not None else None
        if m is None or "key" not in m:
            raise ValueError(f"table {name!r} is not partitioned")
        keep = self._zone_pruned_buckets(m, col, lower, upper)
        tdir = self._table_dir(name)
        lo = self._zone_value(lower) if lower is not None else None
        up = self._zone_value(upper) if upper is not None else None
        file_zones = (
            m.get("file_zones", {}) if (lo is not None or up is not None) else {}
        )
        paths = []
        files_total = 0
        files_kept = 0
        for b in m["partitions"]:
            fz = file_zones.get(b)
            files_total += len(fz) if fz else 1
            if b not in keep:
                continue
            if fz:
                survivors = [
                    rel
                    for rel, stats in fz.items()
                    if self._zone_keep(stats.get(col), lo, up)
                ]
                files_kept += len(survivors)
                paths.extend(os.path.join(tdir, rel) for rel in survivors)
            else:
                files_kept += 1
                paths.append(os.path.join(tdir, m["partitions"][b]))
        paths.append(os.path.join(tdir, m["schema_dir"]))
        stats = {
            "buckets_total": len(m["partitions"]),
            "buckets_kept": len(keep),
            "files_total": files_total,
            "files_kept": files_kept,
        }
        return paths, stats, m

    def prune_plan(self, name: str, col: str, lower=None, upper=None) -> dict:
        """What a ``read_pruned`` with these bounds would scan:
        {buckets_total, buckets_kept, files_total, files_kept} (a
        bucket without file-level stats counts as one file).  The
        auditable metric behind the zone-map + clustered-layout claims
        -- no data is read."""
        _paths, stats, _m = self._pruned_paths(name, col, lower, upper)
        return stats

    @staticmethod
    def _zone_keep(z, lo, up) -> bool:
        """Shared [min, max] overlap test for bucket- and file-level
        stats: missing stats => must scan; all-NULL stats under a real
        predicate => a range match is impossible, skip."""
        if z is None:
            return True
        mn, mx = z
        if mn is None or mx is None:
            return False
        if lo is not None and mx < lo:
            return False
        if up is not None and mn > up:
            return False
        return True

    def _zone_pruned_buckets(self, manifest: dict, col: str, lower, upper) -> list[str]:
        """Bucket ids (manifest keys) surviving the zone check."""
        zones = manifest.get("zones", {})
        lo = self._zone_value(lower) if lower is not None else None
        up = self._zone_value(upper) if upper is not None else None
        if lo is None and up is None:
            # no predicate -> no pruning: read_pruned(name, col) must be
            # exactly store.read(name), including all-NULL-stat buckets
            return list(manifest["partitions"])
        return [
            b
            for b in manifest["partitions"]
            if self._zone_keep(zones.get(b, {}).get(col), lo, up)
        ]

    def read_buckets(self, spark: SparkSession, name: str, bucket_ids) -> DataFrame:
        """Partition-pruned read: only the listed hash buckets are
        scanned (plus the zero-row schema marker, so an empty selection
        is still a readable DataFrame).  This is the read-side mirror of
        ``merge``'s O(delta-buckets) writes: a consumer that knows which
        key buckets it cares about pays I/O proportional to those
        buckets, not to the table.  Paths and schema come from ONE
        manifest read, so they describe the same version even while a
        writer commits."""
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name!r} has no committed version under {self.root}")
        m = self._read_manifest(name, v)
        if m is None or "key" not in m:
            raise ValueError(f"table {name!r} is not partitioned")
        paths = self._manifest_bucket_paths(name, m, bucket_ids)
        paths.append(os.path.join(self._table_dir(name), m["schema_dir"]))
        return self._read_parquet(spark, paths, self._manifest_schema(m))

    def versions(self, name: str) -> list[int]:
        """Committed versions still readable on disk, oldest first.
        Retention is ``keep_versions`` back from the current pointer;
        older snapshots are GC'd at commit time."""
        cur = self.current_version(name)
        if cur is None:
            return []
        tdir = self._table_dir(name)
        out = []
        for v in range(max(1, cur - self.keep_versions), cur + 1):
            if self._read_manifest(name, v) is not None or os.path.isdir(
                os.path.join(tdir, f"v{v}")
            ):
                out.append(v)
        return out

    def read_version(self, spark: SparkSession, name: str, version: int) -> DataFrame:
        """Time travel: read a specific retained snapshot version.

        The same mechanism Delta/Iceberg expose as ``VERSION AS OF``;
        here retention is version-count-bounded (``keep_versions``), so
        a GC'd version raises instead of silently reading the wrong
        data."""
        avail = self.versions(name)
        if version not in avail:
            raise ValueError(
                f"version {version} of {name!r} is not retained "
                f"(available: {avail}; keep_versions={self.keep_versions})"
            )
        return self._read_version(spark, name, version)

    def table_changes(
        self,
        spark: SparkSession,
        name: str,
        from_version: int,
        to_version: int,
        key: str | None = None,
    ) -> DataFrame:
        """Row-level change feed between two retained versions -- the
        Delta Lake ``table_changes`` / CDF analogue on this store: one
        row per key whose image differs, ``op`` in I/U/D, I/U rows
        carrying the ``to_version`` image and D rows the
        ``from_version`` image.  Downstream consumers tail the REPLICA
        with this (e.g. re-deriving a feed after the fact) without
        access to the original envelope stream.

        ``key`` defaults to the table's partition key; pass it
        explicitly for unpartitioned tables.

        Scale shape: one full-outer join on the PK between two retained
        snapshots.  For a bucketed table both versions share the
        identical murmur3 bucket layout (bucket membership never
        migrates), so the join co-locates; change detection compares
        the payload STRUCTS (codegen, null-safe, exact -- no hash
        collision risk), and the payload travels in the same struct
        that becomes the output image, so nothing is read or shuffled
        twice.

        Schema evolution: the output carries ``to_version``'s schema.
        A column ADDED between the two versions is null-filled on the
        old side (mirroring ``apply_changes``' allowMissingColumns
        semantics -- rows written before an ADD COLUMN read the new
        column as NULL), so an unchanged row whose only delta is the
        new column being NULL on both sides stays quiet, and a row
        whose new column is set reports as U.  A column DROPPED
        between the versions (not produced by this pipeline's op='S'
        path, but a replica could be rewritten) is simply absent from
        the comparison and the output."""
        if key is None:
            spec = self.partition_spec(name)
            if spec is None:
                raise ValueError(
                    f"table {name!r} is not partitioned; pass key="
                )
            key = spec[0]
        old = self.read_version(spark, name, from_version)
        new = self.read_version(spark, name, to_version)
        cols = new.columns
        # align the old side to to_version's schema: null-fill added
        # columns (typed from the new side), drop removed ones
        missing_in_old = [c for c in cols if c not in old.columns]
        if missing_in_old:
            new_types = dict(new.dtypes)
            old = old.select(
                *[F.col(c) for c in old.columns if c in cols],
                *[
                    F.lit(None).cast(new_types[c]).alias(c)
                    for c in missing_in_old
                ],
            )
        payload = [c for c in cols if c != key]
        oh = old.select(
            F.col(key),
            F.struct(*[F.col(c) for c in cols]).alias("__old"),
            F.struct(*[F.col(c) for c in payload]).alias("__old_p"),
        )
        nh = new.select(
            F.col(key),
            F.struct(*[F.col(c) for c in cols]).alias("__new"),
            F.struct(*[F.col(c) for c in payload]).alias("__new_p"),
        )
        j = oh.join(nh, key, "full_outer")
        op = (
            F.when(F.col("__old").isNull(), F.lit("I"))
            .when(F.col("__new").isNull(), F.lit("D"))
            .when(
                ~F.col("__old_p").eqNullSafe(F.col("__new_p")), F.lit("U")
            )
        )
        image = F.when(F.col("__old").isNull() | F.col("__new").isNotNull(),
                       F.col("__new")).otherwise(F.col("__old"))
        return (
            j.withColumn("__op", op)
            .filter(F.col("__op").isNotNull())
            .select(F.col("__op").alias("op"), image.alias("__r"))
            .select("op", "__r.*")
        )

    def read_previous(self, spark: SparkSession, name: str) -> DataFrame | None:
        """The snapshot before the current one (None if this is the
        first version).  Valid while ``keep_versions >= 2``; used by
        incremental aggregate maintenance to resolve the old group
        membership of deleted/updated fact rows."""
        v = self.current_version(name)
        if v is None or v <= 1:
            return None
        prev_dir = os.path.join(self._table_dir(name), f"v{v - 1}")
        if self._read_manifest(name, v - 1) is None and not os.path.isdir(prev_dir):
            return None
        return self._read_version(spark, name, v - 1)

    # -- writes --------------------------------------------------------------

    @staticmethod
    def bucket_expr(key, n_buckets: int):
        """The bucket id of a key value: pmod(murmur3(key), B).  Stable
        across sessions, so bucket membership never migrates.  ``key``
        is a column name or a Column; the hash depends on the key's
        type, so an int and a bigint key land in different buckets."""
        return F.pmod(F.hash(key), F.lit(n_buckets))

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_key: str | None = None,
        n_buckets: int = 16,
        zone_cols: list[str] | None = None,
    ) -> int:
        """Write a full new snapshot and commit it.

        With ``partition_key`` (or when the table is already
        partitioned -- the spec is sticky), rows are hash-bucketed and
        written one directory per bucket so later ``merge`` calls can
        rewrite buckets selectively.  ``zone_cols`` (sticky like the
        partition spec) records per-bucket min/max of the named
        columns in the manifest, enabling ``read_pruned`` range scans
        on non-key columns."""
        v = (self.current_version(name) or 0) + 1
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        with self._claimed(name, v):
            spec = self.partition_spec(name)
            prev = self._read_manifest(name, v - 1) if v > 1 else None
            if zone_cols is None and prev is not None:
                zone_cols = prev.get("zone_cols")
            if partition_key is None and spec is not None:
                partition_key, n_buckets = spec
            if partition_key is None:
                path = os.path.join(tdir, f"v{v}")
                shutil.rmtree(path, ignore_errors=True)  # orphan from a crashed commit
                df.write.mode("overwrite").parquet(path)
                # schema-only manifest: readers skip footer inference
                self._write_manifest(name, v, {"schema": df.schema.jsonValue()})
                self._commit(name, v)
                return v
            parts = df.withColumn("__part", self.bucket_expr(partition_key, n_buckets))
            return self._write_buckets(name, v, parts, partition_key, n_buckets, zone_cols)

    def _write_buckets(
        self,
        name: str,
        v: int,
        parts: DataFrame,
        key: str,
        n_buckets: int,
        zone_cols: list[str] | None,
        base: dict | None = None,
        replaced: list[str] | None = None,
        cluster: bool = False,
        writer_options: dict[str, str] | None = None,
    ) -> int:
        """The staged bucket write behind every partitioned writer:
        write ``parts`` (the rows plus their ``__part`` bucket id) into
        a fresh ``w<v>-<uuid>`` stage, one directory per bucket, then
        write manifest ``v`` and commit it.  The caller holds the claim
        on ``v``.

        ``replaced=None`` is a full rewrite: the version is exactly the
        written buckets, under a fresh zero-row schema marker.
        Otherwise the write is incremental over ``base`` (the manifest
        of ``v - 1``): the ``replaced`` bucket ids are dropped (a bucket
        may have emptied), the written ones added, every other bucket
        carried forward, and the schema follows
        ``_evolved_schema_dir``.  Carried buckets keep their zone stats;
        written ones get fresh ``zones`` from the staged files, and
        fresh ``file_zones`` only when ``cluster`` (their rows were
        sorted within each bucket by ``optimize(zorder_cols=...)``) --
        otherwise they lose file-level granularity until the next
        optimize."""
        spark = parts.sparkSession
        tdir = self._table_dir(name)
        stage = f"w{v}-{uuid.uuid4().hex[:8]}"
        stage_dir = os.path.join(tdir, stage)
        rows = parts.drop("__part")
        writer = parts.write.partitionBy("__part")
        # e.g. {"parquet.block.size": ...} to size row groups so the
        # z-order materializes as many tight-stat groups per file --
        # min-max pruning works at row-group granularity
        for k_opt, v_opt in (writer_options or {}).items():
            writer = writer.option(k_opt, v_opt)
        writer.parquet(stage_dir)
        written = {
            entry.split("=", 1)[1]: f"{stage}/{entry}"
            for entry in os.listdir(stage_dir)
            if entry.startswith("__part=")
        }
        if replaced is None:
            schema_dir = f"{stage}-schema"
            rows.limit(0).write.parquet(os.path.join(tdir, schema_dir))
            schema_json = rows.schema.jsonValue()
            partitions = written
        else:
            # only merge's caller-supplied touched_buckets can miss a
            # staged bucket: optimize derives ``replaced`` from the
            # very rows it stages
            stray = set(written) - set(replaced)
            if stray:
                shutil.rmtree(stage_dir, ignore_errors=True)
                raise ValueError(
                    f"merge into {name!r}: upsert rows hash into buckets "
                    f"{sorted(stray, key=int)} missing from touched_buckets; "
                    "committing would drop those buckets' stored rows"
                )
            partitions = dict(base["partitions"])
            for b in replaced:
                partitions.pop(b, None)  # bucket may have emptied
            partitions.update(written)
            schema_dir, schema_json = self._evolved_schema_dir(
                spark, tdir, base, rows, stage
            )
        manifest = {
            "key": key,
            "n_buckets": n_buckets,
            "partitions": partitions,
            "schema_dir": schema_dir,
            "schema": schema_json,
        }
        if zone_cols:
            # carried buckets' files stay on disk, so their bucket- and
            # file-level stats carry regardless of whether THIS write
            # clusters; on a full rewrite nothing is carried
            zones, file_zones = (
                {
                    b: z
                    for b, z in (base or {}).get(kind, {}).items()
                    if b in partitions and b not in written
                }
                for kind in ("zones", "file_zones")
            )
            zones.update(self._bucket_zones(spark, stage_dir, zone_cols))
            if cluster:
                # rows are clustered within each bucket, so per-file
                # stats are tight -- record them and read_pruned
                # prunes FILES inside surviving buckets (the layout
                # lever for range probes on a hash-bucketed table;
                # pair with writer_options={"maxRecordsPerFile": N}
                # to control the clustering granularity)
                file_zones.update(self._file_zones(spark, stage_dir, tdir, zone_cols))
            manifest["zone_cols"] = list(zone_cols)
            manifest["zones"] = zones
            if file_zones:
                manifest["file_zones"] = file_zones
        self._write_manifest(name, v, manifest)
        self._commit(name, v)
        return v

    def _bucket_ids(self, keys: DataFrame, key: str, n_buckets: int) -> list[int]:
        """Sorted distinct bucket ids of the ``key`` column of ``keys``:
        one collect of <= ``n_buckets`` rows."""
        return sorted(
            r[0]
            for r in keys.select(self.bucket_expr(key, n_buckets).alias("b"))
            .distinct()
            .collect()
        )

    def _rewrite_buckets(
        self, spark: SparkSession, name: str, v: int, m: dict, touched: list[int], combine
    ) -> int:
        """Incremental write of ``merge``: ``combine`` maps the rows
        the ``touched`` buckets of version ``v`` (manifest ``m``) store
        -- None when none of them holds rows yet -- to those buckets'
        new rows, which are staged and committed as ``v + 1``."""
        key, B = m["key"], m["n_buckets"]
        old_paths = self._manifest_bucket_paths(name, m, touched)
        # manifest schema (r14+): buckets straddling an ADD COLUMN read
        # under the union schema with NULLs for missing columns, no
        # footer sweep; pre-r14 manifests fall back to mergeSchema
        old_rows = (
            self._read_parquet(spark, old_paths, self._manifest_schema(m))
            if old_paths
            else None
        )
        parts = combine(old_rows).withColumn("__part", self.bucket_expr(key, B))
        with self._claimed(name, v + 1):
            return self._write_buckets(
                name, v + 1, parts, key, B, m.get("zone_cols"),
                base=m, replaced=[str(b) for b in touched],
            )

    def optimize(
        self,
        spark: SparkSession,
        name: str,
        zorder_cols: list[str] | None = None,
        bits: int = 12,
        writer_options: dict[str, str] | None = None,
        buckets: list | None = None,
    ) -> int:
        """Maintenance rewrite of a partitioned table -- the managed
        store's ``OPTIMIZE [ZORDER BY]``: compacts each hash bucket's
        accumulated merge generations into one freshly-written
        directory, optionally laying rows out along the Z-curve of
        ``zorder_cols`` WITHIN each bucket so row-group min-max
        pruning works on those columns on top of the bucket pruning
        the hash key already provides.

        ``buckets=None`` rewrites the whole table (one full pass --
        off-peak maintenance, like ``rebucket``).  ``buckets=[...]``
        is the INCREMENTAL form: only the named buckets are read and
        rewritten, every other bucket's directory, zone stats, and
        file-level stats carry over untouched -- O(touched buckets)
        I/O, which is what a steady merge load needs (merges coarsen
        only the buckets they rewrite, so only those ever need
        re-clustering; see ``maintain_clustering``).  Bucket
        membership is untouched either way, so merges and pruned
        reads are unaffected.  Atomic via the version pointer.
        """
        spec = self.partition_spec(name)
        if spec is None:
            raise ValueError(f"table {name!r} is not partitioned")
        key, B = spec
        v = self.current_version(name) + 1
        old_m = self._read_manifest(name, v - 1)
        if buckets is not None:
            buckets = [str(b) for b in buckets if str(b) in old_m["partitions"]]
            if not buckets:
                return v - 1  # nothing to rewrite
            df = self.read_buckets(spark, name, buckets)
        else:
            df = self.read(spark, name)
        if zorder_cols:
            from ..operators.zorder import with_morton

            df = with_morton(df, zorder_cols, bits)
        width = B if buckets is None else len(buckets)
        out = df.repartition(width, self.bucket_expr(key, B).alias("__part"))
        out = out.withColumn("__part", self.bucket_expr(key, B))
        if zorder_cols:
            # __part leads the sort so the dynamic-partition writer's
            # required ordering is already satisfied -- otherwise it
            # re-sorts each task by __part alone and scrambles __z
            out = out.sortWithinPartitions("__part", "__z").drop("__z")
        with self._claimed(name, v):
            # a re-cluster never evolves the schema: the incremental
            # form carries the marker (``_evolved_schema_dir`` finds no
            # new column), the full form re-stamps the same schema
            return self._write_buckets(
                name, v, out, key, B, old_m.get("zone_cols"),
                base=old_m, replaced=buckets, cluster=bool(zorder_cols),
                writer_options=writer_options,
            )

    def maintain_clustering(
        self,
        spark: SparkSession,
        name: str,
        zorder_cols: list[str],
        max_coarse_frac: float = 0.15,
        bits: int = 12,
        writer_options: dict[str, str] | None = None,
    ) -> dict:
        """Auto-compaction policy: re-cluster ONLY the buckets merges
        have coarsened, when enough of the table has degraded.

        The signal is the manifest itself -- a bucket rewritten by
        ``merge`` loses its ``file_zones`` entry (its files
        no longer cover tight value ranges), so the fraction of
        buckets WITHOUT file-level stats is exactly the fraction of
        the table where a range probe pays full-bucket I/O.  When that
        fraction exceeds ``max_coarse_frac``, run the incremental
        ``optimize`` over just those buckets; otherwise do nothing.
        Hook this after each merge cycle (or on a timer) and 1-day
        probe selectivity stays bounded with no manual optimize step
        and no full-table rewrite ever.

        A table never optimized with ``zorder_cols`` has NO
        ``file_zones`` at all; the policy treats that as 100% coarse
        and performs the initial full clustering (via the incremental
        path over every bucket -- same cost as the full form).

        Returns {coarse_frac, threshold, rewritten (bucket ids),
        version} -- ``rewritten`` is [] when below threshold.
        """
        spec = self.partition_spec(name)
        if spec is None:
            raise ValueError(f"table {name!r} is not partitioned")
        v = self.current_version(name)
        m = self._read_manifest(name, v)
        if not m.get("zone_cols"):
            # without zone stats, file_zones can never be recorded and
            # the policy would re-cluster everything on every call
            raise ValueError(
                f"table {name!r} has no zone_cols; write it with "
                "zone_cols=... before clustering maintenance"
            )
        fz = m.get("file_zones", {})
        coarse = [b for b in m["partitions"] if b not in fz]
        total = max(len(m["partitions"]), 1)
        frac = len(coarse) / total
        if not coarse or frac <= max_coarse_frac:
            return {
                "coarse_frac": frac,
                "threshold": max_coarse_frac,
                "rewritten": [],
                "version": v,
            }
        nv = self.optimize(
            spark,
            name,
            zorder_cols=zorder_cols,
            bits=bits,
            writer_options=writer_options,
            buckets=coarse,
        )
        return {
            "coarse_frac": frac,
            "threshold": max_coarse_frac,
            "rewritten": coarse,
            "version": nv,
        }

    def rebucket(self, spark: SparkSession, name: str, n_buckets: int) -> int:
        """Re-hash a partitioned table into a new bucket count.

        The operational lever for table growth: bucket count is fixed at
        creation, and a table that has grown 100x since then has 100x
        the rows per bucket -- merges still prune correctly but each
        touched bucket rewrite costs 100x the I/O.  Re-bucketing is one
        full-table shuffle+write (off-peak maintenance, like Delta
        OPTIMIZE or Iceberg rewrite_data_files), after which merge
        pruning operates at the new granularity.  The version pointer
        swap keeps the operation atomic: readers see the old layout or
        the new one, never a mix, and concurrent time travel over
        retained pre-rebucket versions still works.
        """
        spec = self.partition_spec(name)
        if spec is None:
            raise ValueError(f"table {name!r} is not partitioned")
        key, old_b = spec
        if n_buckets == old_b:
            return self.current_version(name)
        # a full overwrite under the new spec; it carries zone_cols
        return self.overwrite(
            name, self.read(spark, name), partition_key=key, n_buckets=n_buckets
        )

    def merge(
        self,
        spark: SparkSession,
        name: str,
        upserts: DataFrame,
        touched_keys: DataFrame,
        touched_buckets: list[int] | None = None,
    ) -> int:
        """Partition-pruned MERGE into a partitioned table.

        Rows of ``touched_keys`` (single key column) are deleted, then
        ``upserts`` inserted -- the standard upsert/delete contract
        (keys absent from ``upserts`` stay deleted).  Only the hash
        buckets containing touched keys are read, rewritten, and
        repointed in the new manifest; every other bucket's directory
        carries over untouched, so write I/O is O(delta buckets).

        ``touched_buckets``: bucket ids a caller already computed in
        an action it ran anyway (the dynamic-table refresh's no-op
        stats pass; the CDC pipeline's per-batch meta aggregate over
        the raw batch keys), skipping this method's own bucket-id
        collect.
        CONTRACT: the list must contain every bucket of an upsert
        row's key AND every bucket where a ``touched_keys`` key is
        currently STORED.  Buckets outside it are carried over
        verbatim, so a missing delete-only bucket silently keeps the
        rows it should have deleted.  A missing UPSERT bucket is worse:
        its staged rows would replace the bucket, losing every row it
        stored, not just its deletes -- so merge raises ValueError
        when the staged write holds a bucket outside the list, before
        the manifest is written (the version does not move).  (A
        touched key that is neither stored nor re-upserted may
        legitimately be absent: its bucket has nothing to delete or
        add, and skipping its read+rewrite is the point.)"""
        v = self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"merge target {name!r} does not exist")
        m = self._read_manifest(name, v)
        if m is None or "key" not in m:
            raise ValueError(f"table {name!r} is not partitioned; use overwrite()")
        key, B = m["key"], m["n_buckets"]

        # no .distinct() on the key set: duplicates don't change the
        # anti-join, and dropping it removes a shuffle -- only the
        # bucket-id projection (<= B rows out) dedupes.  When the
        # caller supplied the bucket set, the union stays LAZY (it
        # only feeds the anti-join broadcast below).
        keys = touched_keys.select(key).unionByName(upserts.select(key))
        if touched_buckets is None:
            keys = keys.cache()
        try:
            touched = (
                sorted({int(x) for x in touched_buckets})
                if touched_buckets is not None
                else self._bucket_ids(keys, key, B)
            )
            if not touched:
                return v
            return self._rewrite_buckets(
                spark, name, v, m, touched,
                lambda old: upserts
                if old is None
                else old.join(F.broadcast(keys), on=key, how="left_anti")
                .unionByName(upserts, allowMissingColumns=True),
            )
        finally:
            if touched_buckets is None:
                keys.unpersist()
