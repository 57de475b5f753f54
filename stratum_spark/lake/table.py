"""LakeTable: snapshot-log table with bucketed copy-on-write MERGE.

Storage layout (all files immutable once written):

    <root>/_meta/v0000000001.json      snapshot (atomic O_EXCL create)
    <root>/_meta/_latest               pointer, atomic os.replace
    <root>/data/<commit-uuid>/part-NNNNN-*.parquet   (flat; bucket set per
                                                      file tracked in metadata)

A snapshot records the schema history (field-id based, lake/schema.py),
the live data files per hash bucket, and the per-job committed-epoch map
that gives exactly-once MERGE application.

Scale design (the 100 TB story -- tested here at sandbox scale):
  * Rows are hash-bucketed on the merge key: bucket = pmod(xxhash64(key), B).
    B is a table property; at 100 TB you size B so a bucket is a few
    target files (e.g. B = 65536 for ~1.5 GB/bucket). MERGE rewrites
    ONLY buckets touched by the batch -- a micro-batch touching k buckets
    costs O(k * bucket_size) IO regardless of table size, the same
    asymptotics as Iceberg copy-on-write MERGE with bucket partitioning.
  * Data files are flat parquet; each commit shuffles once on (_bucket)
    and metadata records the bucket set per file (see FileEntry), so
    bucket pruning needs no directory layout and writes never pay the
    dynamic-partition (per-dir writer + sort) tax.
  * Merge-batch inputs are pre-deduped to one row per key (LWW upstream,
    cdc/dedup.py), so the full-outer join has no key skew by construction.
  * All metadata ops (schema add/rename/widen, epoch bookkeeping) are
    O(metadata), never touch data files.

Reference parity: staging-table MERGE transaction
(crates/engine-processing/src/io/sink/postgres.rs:130-198, MERGE SQL shape
crates/connectors/src/sql/query/generator.rs:187-229), write-mode selection
(crates/engine-processing/src/consumer/components/writer.rs:54-111),
checkpoint/commit protocol
(crates/engine-processing/src/consumer/components/coordinator.rs:61-135).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Observation

from stratum_spark.lake.schema import TableSchema

_META = "_meta"
_DATA = "data"
_BUCKET = "_bucket"
# commits that rebase onto a concurrent writer's snapshot give up after
# this many lost races
_COMMIT_ATTEMPTS = 20


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic concurrency)."""


@dataclass(frozen=True)
class FileEntry:
    """One immutable data file covering a known set of hash buckets.

    Files are written FLAT (no Hive-style partition dirs -- dynamic
    partition writes sort + open a writer per directory and were measured
    ~6x slower than flat writes). Instead each commit repartitions rows by
    the bucket column into a fixed task count; the bucket->task assignment
    is Spark's HashPartitioning (pmod(murmur3(bucket), nparts)), which we
    replicate to know exactly which buckets each part-file can contain.
    Bucket pruning then selects files whose bucket set intersects the
    touched set."""

    path: str  # relative to table root
    buckets: tuple[int, ...]
    schema_id: int
    rows: int
    # optional per-file column bounds, read from the parquet footer at
    # write time (Iceberg manifest column_bounds analog): col -> (min, max).
    # Populated when the writer asks for stats_cols -- the CDC delta path
    # records lsn bounds so per-file lineage (offset ranges) comes from
    # metadata the manifest pass ALREADY reads, with zero extra Spark jobs.
    stats: dict | None = None
    # physical file size, recorded at write time from the same footer pass
    # that reads row counts (Iceberg manifest file_size_in_bytes analog) --
    # size-aware maintenance (bin-pack compaction) then never stats files,
    # which matters when "stat" is an object-store HEAD per file. None on
    # entries written before the field existed (readers fall back to a
    # getsize call).
    size_bytes: int | None = None

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "buckets": list(self.buckets),
            "schema_id": self.schema_id,
            "rows": self.rows,
        }
        if self.stats:
            d["stats"] = {c: list(v) for c, v in self.stats.items()}
        if self.size_bytes is not None:
            d["size_bytes"] = self.size_bytes
        return d

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        buckets = d.get("buckets")
        if buckets is None and "bucket" in d:  # legacy single-bucket entries
            buckets = [d["bucket"]]
        stats = d.get("stats")
        if stats is not None:
            stats = {c: tuple(v) for c, v in stats.items()}
        return FileEntry(
            d["path"], tuple(buckets), d["schema_id"], d["rows"], stats=stats,
            size_bytes=d.get("size_bytes"),
        )


@dataclass(frozen=True)
class MergeStats:
    epoch_skipped: bool = False
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_deleted: int = 0
    buckets_touched: int = 0
    wall_ms: int = 0


@dataclass
class Snapshot:
    version: int
    schema_id: int
    schemas: dict[int, TableSchema]
    key: str | None  # merge-key column NAME in current schema (None = keyless/append-only)
    key_field_id: int | None
    n_buckets: int
    files: list[FileEntry] = dc_field(default_factory=list)
    committed: dict[str, dict] = dc_field(default_factory=dict)  # job_id -> {epoch, lsn_max}
    properties: dict[str, str] = dc_field(default_factory=dict)
    timestamp_ms: int = 0

    @property
    def schema(self) -> TableSchema:
        return self.schemas[self.schema_id]

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "schema_id": self.schema_id,
            "schemas": {str(k): v.to_json() for k, v in self.schemas.items()},
            "key": self.key,
            "key_field_id": self.key_field_id,
            "n_buckets": self.n_buckets,
            "files": [f.to_json() for f in self.files],
            "committed": self.committed,
            "properties": self.properties,
            "timestamp_ms": self.timestamp_ms,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            version=d["version"],
            schema_id=d["schema_id"],
            schemas={int(k): TableSchema.from_json(v) for k, v in d["schemas"].items()},
            key=d.get("key"),
            key_field_id=d.get("key_field_id"),
            n_buckets=d["n_buckets"],
            files=[FileEntry.from_json(f) for f in d.get("files", [])],
            committed=d.get("committed", {}),
            properties=d.get("properties", {}),
            timestamp_ms=d.get("timestamp_ms", 0),
        )


def _successor(snap: Snapshot, **changes) -> Snapshot:
    """The next version of snap: every field inherited except `changes` --
    the one way a writer derives the snapshot it commits."""
    return dataclasses.replace(snap, version=snap.version + 1, **changes)


def _bookmarked(
    snap: Snapshot, job_id: str, epoch: int, lsn_max: int | None = None
) -> dict | None:
    """snap's `committed` map with job_id's bookmark advanced to epoch, or
    None when epoch is already committed (a replay, which the exactly-once
    writers skip). A CDC job resumes from the committed lsn_max, not the
    epoch number, so any epoch size is valid on resume and a stream can
    continue a backfill's job."""
    if epoch <= snap.committed.get(job_id, {}).get("epoch", -1):
        return None
    return {**snap.committed, job_id: {"epoch": epoch, "lsn_max": lsn_max}}


def _key_bucket(key_col: str, n_buckets: int) -> F.Column:
    """The hash-bucket rule: pmod(xxhash64(key as string), n_buckets)
    (functions/xxh64.key_bucket is its bit-identical driver-side twin)."""
    return F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)).cast("int")


def _with_bucket(df: DataFrame, snap: Snapshot) -> DataFrame:
    """Add the _bucket column a clustered write needs: the merge key's
    hash bucket on a keyed table, a round-robin spread over
    snap.n_buckets on a keyless one."""
    if snap.key:
        b = _key_bucket(snap.key, snap.n_buckets)
    else:
        b = F.pmod(F.monotonically_increasing_id(), F.lit(snap.n_buckets)).cast("int")
    return df.withColumn(_BUCKET, b)


def _parquet_footer(
    path: str, stats_cols: tuple[str, ...]
) -> tuple[int, dict, int]:
    """(num_rows, {col: (min, max)}, size_bytes) from the parquet footer --
    the same single metadata read the manifest row counts need; column
    bounds are folded over the row-group statistics parquet writers emit
    anyway, and the physical size is a stat on a file whose metadata the
    OS just paged in."""
    import pyarrow.parquet as pq

    size = os.path.getsize(path)
    md = pq.ParquetFile(path).metadata
    bounds: dict[str, tuple] = {}
    if stats_cols and md.num_rows:
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for col in stats_cols:
            ci = idx.get(col)
            if ci is None:
                continue
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    mn = mx = None
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if mn is not None:
                bounds[col] = (mn, mx)
    return md.num_rows, bounds, size


_PRUNE_OPS = ("=", "==", "<", "<=", ">", ">=")


def _bounds_exclude(bounds: tuple, op: str, value) -> bool:
    """True when a file with column (min, max) = bounds provably contains
    NO row satisfying `col op value` -- the file can be skipped without
    being opened. NULLs never satisfy a comparison predicate, so a file
    whose only matches would be nulls is correctly skippable. Incomparable
    types (stats recorded under an old physical type) keep the file:
    a prune may only drop what it can prove irrelevant."""
    mn, mx = bounds
    try:
        if op in ("=", "=="):
            return bool(value < mn or value > mx)
        if op == "<":
            return bool(mn >= value)
        if op == "<=":
            return bool(mn > value)
        if op == ">":
            return bool(mx <= value)
        if op == ">=":
            return bool(mx < value)
    except TypeError:
        return False
    return False


def prune_entries(
    entries: list["FileEntry"], filters: list[tuple]
) -> list["FileEntry"]:
    """Manifest-stats file skipping (Iceberg min/max metrics-based file
    pruning analog): drop every file whose recorded column bounds prove it
    cannot satisfy the conjunction of `(col, op, value)` filters. Files
    with no recorded bounds for a filtered column are kept -- the prune is
    a pure superset-preserving optimization, never a correctness gate.
    Driver-side O(files) over the manifest; zero file opens, zero jobs."""
    for col, op, _ in filters:
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported prune op {op!r} on {col!r}; "
                             f"supported: {_PRUNE_OPS}")
    out = []
    for e in entries:
        skip = False
        if e.stats:
            for col, op, value in filters:
                b = e.stats.get(col)
                if b is not None and _bounds_exclude(b, op, value):
                    skip = True
                    break
        if not skip:
            out.append(e)
    return out


class LakeTable:
    """Handle to a lake table rooted at a local/posix directory.

    (On a cluster this root would be an object-store prefix and the
    O_EXCL version-file create would be a catalog/lock-service CAS --
    exactly Iceberg's commit model.)
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        self._snap: Snapshot | None = None

    # ------------------------------------------------------------------
    # creation / loading
    # ------------------------------------------------------------------
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: TableSchema | str,
        key: str | None = None,
        n_buckets: int = 16,
        properties: dict[str, str] | None = None,
        committed: dict[str, dict] | None = None,
    ) -> "LakeTable":
        """New table at `root` whose first snapshot holds no files; its
        `committed` bookmarks, if given, land in that same O_EXCL commit."""
        if isinstance(schema, str):
            schema = TableSchema.from_ddl(schema)
        root = os.path.abspath(root)
        meta = os.path.join(root, _META)
        os.makedirs(meta, exist_ok=False)
        key_fid = schema.field_by_name(key).id if key else None
        snap = Snapshot(
            version=1,
            schema_id=schema.schema_id,
            schemas={schema.schema_id: schema},
            key=key,
            key_field_id=key_fid,
            n_buckets=n_buckets,
            committed=committed or {},
            properties=properties or {},
            timestamp_ms=int(time.time() * 1000),
        )
        t = LakeTable(spark, root)
        t._write_snapshot(snap)
        return t

    @staticmethod
    def load(spark: SparkSession, root: str) -> "LakeTable":
        t = LakeTable(spark, root)
        t.snapshot()  # raises if missing
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.isfile(os.path.join(root, _META, "_latest"))

    # ------------------------------------------------------------------
    # snapshot log
    # ------------------------------------------------------------------
    def _version_path(self, v: int) -> str:
        return os.path.join(self.root, _META, f"v{v:010d}.json")

    def _latest_version(self) -> int:
        """The version LOG is authoritative: version files are O_EXCL-
        created and fsynced, while the _latest pointer is only a fast-path
        HINT (written without fsync -- one fsync per commit instead of
        two). Commits are sequential, so scanning forward from the hint
        costs O(lag) stat calls, normally zero."""
        try:
            with open(os.path.join(self.root, _META, "_latest")) as fh:
                v = int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            v = 0
        while os.path.isfile(self._version_path(v + 1)):
            v += 1
        if v == 0 or not os.path.isfile(self._version_path(v)):
            # the hint is missing/corrupt AND the forward scan found no
            # contiguous successor (e.g. expire_snapshots removed early
            # versions, or a crash left the unfsynced pointer stale): fall
            # back to a full directory scan for the max retained version
            # instead of leaving the table unopenable
            try:
                vs = [
                    int(f[1:11])
                    for f in os.listdir(os.path.join(self.root, _META))
                    if f.startswith("v") and f.endswith(".json")
                ]
            except FileNotFoundError:
                vs = []
            if vs:
                v = max(vs)
        return v

    def snapshot(self, version: int | None = None, refresh: bool = True) -> Snapshot:
        if version is not None:
            with open(self._version_path(version)) as fh:
                return Snapshot.from_json(json.load(fh))
        if self._snap is None or refresh:
            v = self._latest_version()
            with open(self._version_path(v)) as fh:
                self._snap = Snapshot.from_json(json.load(fh))
        return self._snap

    def history(self) -> list[Snapshot]:
        metas = sorted(
            f for f in os.listdir(os.path.join(self.root, _META)) if f.startswith("v")
        )
        out = []
        for m in metas:
            with open(os.path.join(self.root, _META, m)) as fh:
                out.append(Snapshot.from_json(json.load(fh)))
        return out

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Atomic commit: O_EXCL create of the version file is the CAS;
        losing the race raises CommitConflict (caller refreshes+retries)."""
        snap.timestamp_ms = int(time.time() * 1000)
        path = self._version_path(snap.version)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflict(f"version {snap.version} already committed") from e
        with os.fdopen(fd, "w") as fh:
            json.dump(snap.to_json(), fh)
            fh.flush()
            os.fsync(fh.fileno())
        # the pointer is a HINT (see _latest_version): durable recovery
        # derives the latest version from the fsynced version log, so the
        # pointer write skips its fsync -- measurably cheaper on the
        # per-epoch commit path
        tmp = os.path.join(self.root, _META, f"._latest.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(str(snap.version))
        os.replace(tmp, os.path.join(self.root, _META, "_latest"))
        self._snap = snap

    def _commit_rebased(self, derive, what: str) -> Snapshot:
        """Commit derive(latest snapshot), re-deriving from a refreshed
        snapshot each time the CAS loses to a concurrent writer, at most
        _COMMIT_ATTEMPTS times. Only commits that rebase safely come here
        (appends, rewrites whose inputs survive, rollbacks); a MERGE's
        kept-file set is tied to the snapshot it planned against, so it
        commits once and surfaces the conflict. derive may raise
        CommitConflict itself to abandon."""
        for _ in range(_COMMIT_ATTEMPTS):
            new = derive(self.snapshot())
            try:
                self._write_snapshot(new)
                return new
            except CommitConflict:
                continue
        raise CommitConflict(
            f"{what} of {self.root} lost the commit race {_COMMIT_ATTEMPTS} times"
        )

    def _append_files_with_retry(self, entries: list[FileEntry]) -> None:
        """Commit already-written data files as an APPEND (the file set
        only grows, so it rebases safely). This is what makes concurrent
        DLQ/lineage appends from overlapped epochs safe."""
        self._commit_rebased(lambda s: _successor(s, files=s.files + entries), "append")

    # ------------------------------------------------------------------
    # read path (schema-evolution-resolving, bucket-pruned)
    # ------------------------------------------------------------------
    def _bucket_expr(self, key_col: str) -> F.Column:
        return _key_bucket(key_col, self.snapshot(refresh=False).n_buckets)

    def _resolve(self, df: DataFrame, from_schema: TableSchema, to_schema: TableSchema) -> DataFrame:
        """Map a DataFrame written under from_schema to to_schema by field id:
        rename via id match, widen via cast, missing columns as typed nulls."""
        cols = []
        for f in to_schema.fields:
            src = from_schema.field_by_id(f.id)
            if src is None:
                cols.append(F.lit(None).cast(f.spark_type).alias(f.name))
            else:
                cols.append(F.col(src.name).cast(f.spark_type).alias(f.name))
        return df.select(*cols)

    def _read_entries(self, entries: list[FileEntry], snap: Snapshot) -> DataFrame:
        cur = snap.schema
        if not entries:
            return self.spark.createDataFrame([], cur.spark_schema())
        by_schema: dict[int, list[str]] = {}
        for e in entries:
            by_schema.setdefault(e.schema_id, []).append(os.path.join(self.root, e.path))
        parts: list[DataFrame] = []
        for sid, paths in sorted(by_schema.items()):
            hist = snap.schemas[sid]
            raw = self.spark.read.schema(hist.spark_schema()).parquet(*paths)
            parts.append(self._resolve(raw, hist, cur))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(self, version: int | None = None) -> DataFrame:
        snap = self.snapshot(version)
        return self._read_entries(snap.files, snap)

    def read_buckets(self, buckets: list[int], version: int | None = None) -> DataFrame:
        snap = self.snapshot(version)
        bs = set(buckets)
        return self._read_entries([e for e in snap.files if bs.intersection(e.buckets)], snap)

    def _key_equality_bucket(self, snap: "Snapshot", filters: list[tuple]) -> int | None:
        """If a filter pins the merge key with equality, the one hash
        bucket that key can live in -- computed driver-side with the
        pure-Python XXH64 (bit-identical to _bucket_expr; differential-
        tested), zero jobs. None when no key or no key-equality filter."""
        if not snap.key:
            return None
        for col, op, value in filters:
            if col == snap.key and op in ("=", "=="):
                from stratum_spark.functions.xxh64 import key_bucket

                return key_bucket(value, snap.n_buckets)
        return None

    def scan_files(
        self, filters: list[tuple] | None = None, version: int | None = None
    ) -> list[FileEntry]:
        """The file entries a scan(filters) would read, after manifest-
        stats pruning AND (for key-equality predicates on a keyed table)
        hash-bucket pruning. Exposed so callers (and lineage) can see
        exactly what the prune bought before any I/O happens."""
        snap = self.snapshot(version)
        filters = filters or []
        entries = snap.files
        kb = self._key_equality_bucket(snap, filters)
        if kb is not None:
            # a file with an empty bucket set is unknown-coverage: keep it
            # (the prune must stay superset-preserving)
            entries = [e for e in entries if not e.buckets or kb in e.buckets]
        return prune_entries(entries, filters)

    def scan(
        self, filters: list[tuple] | None = None, version: int | None = None
    ) -> DataFrame:
        """Filtered read with manifest-stats file skipping (the Iceberg
        min/max metrics-pruning analog; beyond-reference lake surface like
        read_changes -- the reference's nearest behavior is the keyset
        snapshot reader bounding each page by a PK range). `filters` is a
        conjunction of (col, op, value), op in =,==,<,<=,>,>=.

        Scale path: on a 10^10-row table whose manifests record lsn (the
        CDC delta path already does, via the footer pass the row counts
        need anyway) or any property-declared stats column, a range query
        opens ONLY the files whose (min, max) intersect the predicate --
        the prune is metadata-only, O(files) on the driver, zero jobs.
        A key-equality predicate on a keyed table additionally prunes to
        the single hash bucket the key can live in (driver-side XXH64,
        still zero jobs) -- a point lookup on a 100 TB table reads
        1/n_buckets of the manifest's files before stats even apply.
        The same predicate is then applied in Spark on the surviving
        files (pushed to the parquet row-group reader by Catalyst), so
        results are exact whether or not any file has stats."""
        snap = self.snapshot(version)
        entries = self.scan_files(filters, version=snap.version)
        df = self._read_entries(entries, snap)
        for col, op, value in filters or []:
            c = F.col(col)
            df = df.filter(
                {"=": c == value, "==": c == value, "<": c < value,
                 "<=": c <= value, ">": c > value, ">=": c >= value}[op]
            )
        return df

    def lookup(self, value, version: int | None = None) -> DataFrame:
        """Point lookup by merge key: bucket-pruned + stats-pruned scan of
        `key = value`. On a keyed table this opens only the one bucket's
        files (minus any the key-column stats exclude) -- the O(1)-ish
        read path a CDC consumer uses to fetch a single document's current
        row without touching the other n_buckets-1/n_buckets of the table."""
        snap = self.snapshot(version)
        if not snap.key:
            raise ValueError(f"lookup requires a keyed table ({self.root})")
        return self.scan([(snap.key, "=", value)], version=snap.version)

    def snapshot_at(self, ts_ms: int) -> Snapshot:
        """Time travel: the latest snapshot committed at or before ts_ms
        (Iceberg `FOR SYSTEM_TIME AS OF` analog). Raises if the table has
        no snapshot that old."""
        best: Snapshot | None = None
        for s in self.history():
            if s.timestamp_ms <= ts_ms and (best is None or s.version > best.version):
                best = s
        if best is None:
            raise ValueError(f"no snapshot at or before timestamp {ts_ms}")
        return best

    def read_as_of(self, ts_ms: int) -> DataFrame:
        """Read the table as of a wall-clock commit timestamp."""
        return self.read(version=self.snapshot_at(ts_ms).version)

    def changed_buckets(self, from_version: int, to_version: int | None = None) -> list[int]:
        """Hash buckets whose FILE SET differs between two snapshot
        versions. Snapshots share immutable files, so a bucket covered by
        the identical set of files in both versions provably holds the
        identical rows and can be skipped without reading a byte -- the
        metadata-only prune behind read_changes. A multi-bucket file
        marks all its buckets changed (superset, never a miss)."""
        s_from = self.snapshot(from_version)
        s_to = self.snapshot(to_version)

        def sig(snap: Snapshot) -> dict[int, frozenset]:
            m: dict[int, set] = {}
            for e in snap.files:
                for b in e.buckets:
                    m.setdefault(b, set()).add(e.path)
            return {b: frozenset(v) for b, v in m.items()}

        a, b = sig(s_from), sig(s_to)
        return sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))

    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental changes between two snapshot versions (the public
        analogs are Iceberg's incremental read and Delta's Change Data
        Feed): the net row-level difference state(to) - state(from),
        emitted as full rows plus a `_change_type` column -- 'insert' /
        'update_postimage' (rows carry the `to` image) / 'delete' (rows
        carry the `from` image). A downstream consumer of a CDC-ingested
        lake (tokenizer shard refresh, dedup index update) re-processes
        exactly the changed rows instead of rescanning the table.

        Scale path: both sides are pruned to changed_buckets() -- buckets
        whose file set is identical between the versions are never read,
        so one changed bucket of a 100 TB table reads one bucket -- and
        the diff joins shuffle only those buckets' rows. Correct across
        cow MERGE, mor compaction (a pure rewrite diffs to zero rows) and
        schema evolution (the `from` side resolves to the `to` schema
        before comparison). Keyed tables diff by merge key with a
        canonical whole-row hash detecting updates (any stored column,
        including lsn bookkeeping, counts as a change -- Delta CDF
        semantics); keyless tables diff by whole-row multiplicity."""
        s_from = self.snapshot(from_version)
        s_to = self.snapshot(to_version)
        if s_from.version > s_to.version:
            raise ValueError(
                f"from_version {s_from.version} is newer than to_version {s_to.version}"
            )
        changed = set(self.changed_buckets(s_from.version, s_to.version))
        # resolve BOTH sides to the `to` schema; union the schema maps so
        # `from`-side files whose schema id predates `to` still resolve
        res = dataclasses.replace(s_to, schemas={**s_from.schemas, **s_to.schemas})
        old = self._read_entries(
            [e for e in s_from.files if changed.intersection(e.buckets)], res
        )
        new = self._read_entries(
            [e for e in s_to.files if changed.intersection(e.buckets)], res
        )
        ctype = "_change_type"
        key = s_to.key
        if key is None:
            # keyless append-only table: multiset difference both ways
            return new.exceptAll(old).withColumn(ctype, F.lit("insert")).unionByName(
                old.exceptAll(new).withColumn(ctype, F.lit("delete"))
            )
        from stratum_spark.verify.hashing import canonical_hash_col

        oldh = old.withColumn("_h_old", canonical_hash_col(old))
        newh = new.withColumn("_h_new", canonical_hash_col(new))
        marked = newh.join(oldh.select(key, "_h_old"), on=key, how="left")
        inserts = (
            marked.filter(F.col("_h_old").isNull())
            .drop("_h_old", "_h_new")
            .withColumn(ctype, F.lit("insert"))
        )
        updates = (
            marked.filter(
                F.col("_h_old").isNotNull() & (F.col("_h_new") != F.col("_h_old"))
            )
            .drop("_h_old", "_h_new")
            .withColumn(ctype, F.lit("update_postimage"))
        )
        deletes = (
            old.join(new.select(key), on=key, how="left_anti")
            .withColumn(ctype, F.lit("delete"))
        )
        return inserts.unionByName(updates).unionByName(deletes)

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------
    def _align(
        self, df: DataFrame, schema: TableSchema, passthrough: tuple[str, ...] = ()
    ) -> DataFrame:
        """Align an input DataFrame to the table schema by NAME (caller-facing
        path -- names are current), casting to schema types. Extra columns
        are an error; missing nullable columns become nulls. passthrough
        columns are kept verbatim after the schema columns."""
        in_cols = {c.lower() for c in df.columns}
        extra = in_cols - {f.name.lower() for f in schema.fields} - {p.lower() for p in passthrough}
        if extra:
            raise ValueError(f"unknown columns for table: {sorted(extra)}")
        cols = []
        for f in schema.fields:
            if f.name.lower() in in_cols:
                cols.append(F.col(f.name).cast(f.spark_type).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.spark_type).alias(f.name))
        cols += [F.col(p) for p in passthrough if p.lower() in in_cols]
        return df.select(*cols)

    def _part_to_buckets(self, n_buckets: int, nparts: int) -> dict[int, tuple[int, ...]]:
        """Replicate Spark's HashPartitioning of the int bucket column:
        part(b) = nonNegativeMod(murmur3(b), nparts) == pmod(hash(b), nparts).
        Computed once per (n_buckets, nparts) with a 1-task Spark job."""
        key = (n_buckets, nparts)
        cache = getattr(self, "_p2b_cache", None)
        if cache is None:
            cache = self._p2b_cache = {}
        if key not in cache:
            rows = (
                self.spark.range(n_buckets)
                .select(
                    F.col("id").cast("int").alias("b"),
                    F.pmod(F.hash(F.col("id").cast("int")), F.lit(nparts)).alias("p"),
                )
                .collect()
            )
            m: dict[int, list[int]] = {}
            for r in rows:
                m.setdefault(int(r["p"]), []).append(int(r["b"]))
            cache[key] = {p: tuple(sorted(bs)) for p, bs in m.items()}
        return cache[key]

    def _stats_cols(
        self, snap: Snapshot, extra: tuple[str, ...] = ()
    ) -> tuple[str, ...]:
        """Columns whose (min, max) bounds the footer pass should record,
        from the `stats.columns` table property (comma-separated) plus any
        caller-required columns (the CDC delta path always records lsn).
        Recording costs nothing extra -- the manifest row-count pass reads
        the same footer -- and buys scan()-time file skipping."""
        prop = snap.properties.get("stats.columns", "")
        cols = tuple(c.strip() for c in prop.split(",") if c.strip())
        return tuple(dict.fromkeys(cols + tuple(extra)))

    def _recorded_stats_cols(self, snap: Snapshot) -> tuple[str, ...]:
        """_stats_cols plus every column some live file already records
        bounds for, so a rewrite keeps the inputs' pruning stats."""
        return self._stats_cols(
            snap, tuple(sorted({c for e in snap.files if e.stats for c in e.stats}))
        )

    def _write_data(
        self,
        df: DataFrame,
        snap: Snapshot,
        clustered: bool = True,
        stats_cols: tuple[str, ...] = (),
    ) -> list[FileEntry]:
        """Write df as FLAT parquet under a fresh commit dir.

        clustered=True (default): df carries _bucket and is repartitioned
        on it so each task holds whole buckets; the part-file index
        identifies the bucket set (enables bucket-pruned reads/merges).

        clustered=False: df is written with its plan's NATURAL partitioning
        (e.g. the upstream LWW aggregate's shuffle output) and every file
        is marked as covering ALL buckets. Callers whose files are never
        bucket-pruned (delta tables: read-merge and compaction always scan
        the whole delta set) skip the cost of a second full-row shuffle."""
        commit_id = uuid.uuid4().hex[:16]
        rel_dir = os.path.join(_DATA, commit_id)
        out_dir = os.path.join(self.root, rel_dir)
        if clustered:
            nparts = max(
                1, min(int(self.spark.conf.get("spark.sql.shuffle.partitions")), snap.n_buckets)
            )
            out_df = df.repartition(nparts, F.col(_BUCKET))
            # sort.columns property (Iceberg sort-order analog): cluster
            # rows within each task by (bucket, sort cols) so parquet
            # row-group and manifest min/max bounds come out tight --
            # range scans on the sorted column then prune harder. Applied
            # to CLUSTERED writes only (append/merge/compact/rebucket);
            # the unclustered delta hot path keeps its natural
            # partitioning (no sort on the epoch critical path). Columns
            # not present in this write's schema are skipped: the sort is
            # a best-effort layout optimization, never a correctness gate.
            sort_cols = [
                c.strip()
                for c in snap.properties.get("sort.columns", "").split(",")
                if c.strip() and c.strip() in df.columns
            ]
            if sort_cols:
                out_df = out_df.sortWithinPartitions(_BUCKET, *sort_cols)
            out_df = out_df.drop(_BUCKET)
        else:
            out_df = df
        out_df.write.mode("error").parquet(out_dir)
        if not os.path.isdir(out_dir):
            return []
        p2b = self._part_to_buckets(snap.n_buckets, nparts) if clustered else None
        all_buckets = tuple(range(snap.n_buckets))
        todo: list[tuple[str, int, str]] = []
        for fn in os.listdir(out_dir):
            if fn.endswith(".parquet") and fn.startswith("part-"):
                split = int(fn.split("-")[1])
                todo.append((os.path.join(rel_dir, fn), split, os.path.join(out_dir, fn)))
        # per-file row counts, bounds and sizes for the manifest: one footer
        # read per part file (one file per write task -- clustered writes
        # have min(shuffle partitions, n_buckets) tasks, delta writes the
        # LWW shuffle's), threaded on the driver, no Spark job
        with ThreadPoolExecutor(max_workers=16) as ex:
            footers = list(ex.map(lambda t: _parquet_footer(t[2], stats_cols), todo))
        entries = []
        for (rel, split, full), (r, bounds, sz) in zip(todo, footers):
            if r == 0:
                # an empty task still writes a part file; the manifest
                # drops it, so it must not outlive the write as an orphan
                os.remove(full)
                continue
            entries.append(FileEntry(
                path=rel,
                buckets=p2b.get(split, ()) if clustered else all_buckets,
                schema_id=snap.schema_id,
                rows=r,
                stats=bounds or None,
                size_bytes=sz,
            ))
        if not entries:
            shutil.rmtree(out_dir, ignore_errors=True)
        return entries

    def append_local(self, rows: list[dict]) -> int:
        """Driver-side append of a SMALL row batch (lineage/metrics rows)
        via pyarrow -- no Spark job. Same snapshot semantics as append()."""
        entries = self.write_local_files(rows)
        if entries:
            self._append_files_with_retry(entries)
        return len(rows)

    def write_local_files(self, rows: list[dict]) -> list[FileEntry]:
        """Phase 1 of a driver-side append of a SMALL row batch: write it
        as one parquet file via pyarrow (no Spark job), invisible until a
        commit references it -- append_local's, or commit_epoch_files'
        for an exactly-once epoch."""
        if not rows:
            return []
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot()
        schema = snap.schema
        commit_id = uuid.uuid4().hex[:16]
        rel_dir = os.path.join(_DATA, commit_id)
        out_dir = os.path.join(self.root, rel_dir)
        os.makedirs(out_dir)
        arrays, names = [], []
        spark_to_pa = {
            "string": pa.string(),
            "int": pa.int32(),
            "bigint": pa.int64(),
            "double": pa.float64(),
            "timestamp": pa.timestamp("us"),
        }
        for f in schema.fields:
            names.append(f.name)
            pa_type = spark_to_pa.get(f.type)
            vals = [r.get(f.name) for r in rows]
            arrays.append(pa.array(vals, type=pa_type))
        path = os.path.join(out_dir, "part-00000-local.parquet")
        pq.write_table(pa.table(dict(zip(names, arrays))), path)
        if snap.key:
            # exact bucket set via the driver-side XXH64 (bit-identical to
            # _bucket_expr), so key-bucket pruning stays sound for keyed
            # tables fed through this path
            from stratum_spark.functions.xxh64 import key_bucket

            bks = tuple(sorted({
                key_bucket(r.get(snap.key), snap.n_buckets) for r in rows
            }))
        else:
            bks = (0,)
        entry = FileEntry(
            path=os.path.join(rel_dir, "part-00000-local.parquet"),
            buckets=bks,
            schema_id=snap.schema_id,
            rows=len(rows),
            size_bytes=os.path.getsize(path),
        )
        return [entry]

    def append(self, df: DataFrame) -> int:
        """Insert write-mode (stratum WriteMode::Insert,
        crates/model/src/execution/pipeline.rs:47-52): blind fast-path append,
        no key matching. Returns rows appended."""
        snap = self.snapshot()
        aligned = _with_bucket(self._align(df, snap.schema), snap)
        entries = self._write_data(aligned, snap, stats_cols=self._stats_cols(snap))
        if not entries:
            return 0  # empty append: no snapshot churn
        self._append_files_with_retry(entries)
        return sum(e.rows for e in entries)

    def write_epoch_files(
        self,
        df: DataFrame,
        passthrough: tuple[str, ...] = (),
        clustered: bool = True,
        stats_cols: tuple[str, ...] = (),
    ) -> list[FileEntry]:
        """Phase 1 of the two-phase exactly-once append: write the data
        files WITHOUT committing them. Files land under a fresh commit dir
        and are invisible until commit_epoch_files references them, so
        writes for DIFFERENT epochs may run concurrently/out of order (the
        deep-pipelined backfill overlaps epoch N+1's write with epoch N's
        commit); only the snapshot commits must serialize in epoch order.
        A crash here leaves orphan data dirs no snapshot references --
        harmless garbage, re-written on replay."""
        snap = self.snapshot()
        aligned = self._align(df, snap.schema, passthrough=passthrough)
        if clustered:
            aligned = _with_bucket(aligned, snap)
        return self._write_data(
            aligned, snap, clustered=clustered,
            stats_cols=self._stats_cols(snap, stats_cols),
        )

    def commit_epoch_files(
        self,
        entries: list[FileEntry],
        job_id: str,
        epoch: int,
        lsn_max: int | None = None,
    ) -> int:
        """Phase 2: atomically reference already-written files and advance
        the (job_id, epoch) bookmark in ONE snapshot. A replayed epoch
        (epoch <= committed) commits nothing -- its pre-written files stay
        orphaned, preserving exactly-once."""
        snap = self.snapshot()
        committed = _bookmarked(snap, job_id, epoch, lsn_max)
        if committed is None:
            return 0
        self._write_snapshot(_successor(snap, files=snap.files + entries, committed=committed))
        return sum(e.rows for e in entries)

    def append_epoch(
        self,
        df: DataFrame,
        job_id: str,
        epoch: int,
        lsn_max: int | None = None,
        passthrough: tuple[str, ...] = (),
        clustered: bool = True,
    ) -> int:
        """Exactly-once APPEND: the data files and the (job_id, epoch)
        bookmark commit in ONE snapshot, so a replayed epoch appends
        nothing. This is the merge-on-read delta write path: an epoch's
        change rows land as append-only delta files (with their op/lsn
        columns carried via `passthrough`), deferring the merge to readers
        and the compactor -- the write amplification of copy-on-write MERGE
        (every touched bucket rewritten per epoch) disappears from the
        ingest hot path. clustered=False additionally skips the bucket
        repartition (delta files are never bucket-pruned, so clustering
        them costs a second full-row shuffle for nothing). Returns rows
        appended (0 if the epoch replayed)."""
        if _bookmarked(self.snapshot(), job_id, epoch) is None:
            return 0  # replayed: write no files the commit would orphan
        entries = self.write_epoch_files(df, passthrough=passthrough, clustered=clustered)
        return self.commit_epoch_files(entries, job_id, epoch, lsn_max=lsn_max)

    def truncate(self, expected: Snapshot) -> None:
        """Metadata-only commit of `expected`'s successor with no files
        (bookmarks, schema and properties carried over). The CAS raises
        CommitConflict if any commit landed after `expected`, so rows
        appended since the caller read it are never dropped."""
        self._write_snapshot(_successor(expected, files=[]))

    def overwrite(self, df: DataFrame) -> int:
        """Replace write-mode: new snapshot referencing only the new files."""
        snap = self.snapshot()
        aligned = _with_bucket(self._align(df, snap.schema), snap)
        entries = self._write_data(aligned, snap, stats_cols=self._stats_cols(snap))
        self._write_snapshot(_successor(snap, files=entries))
        return sum(e.rows for e in entries)

    # ------------------------------------------------------------------
    # MERGE (the centerpiece)
    # ------------------------------------------------------------------
    def merge(
        self,
        batch: DataFrame,
        op_col: str | None = "op",
        job_id: str | None = None,
        epoch: int | None = None,
        lsn_max: int | None = None,
        mode: str = "upsert",
        precedence_col: str | None = None,
    ) -> MergeStats:
        """MERGE batch INTO table ON table.key = batch.key.

        batch must carry at most ONE row per key (run LWW dedup upstream;
        cdc/dedup.py). op_col values: 'I'/'U' upsert the row, 'D' deletes;
        op_col=None treats every row as upsert. mode: 'upsert' (default),
        'update' (only matched rows change -- stratum WriteMode::Update),
        'insert_new' (only unmatched rows insert).

        Exactly-once: with (job_id, epoch), a replayed epoch <= the
        committed epoch for job_id is skipped -- the MERGE + the epoch
        bookmark commit atomically in one snapshot, mirroring stratum's
        write -> WAL BatchCommit -> Committed-checkpoint sequence
        (coordinator.rs:61-135) collapsed into a single atomic commit.

        Equivalent SQL (what this runs on real Iceberg):
            MERGE INTO t USING s ON t.<key> = s.<key>
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *
        """
        t0 = time.time()
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("merge requires a key-ed table")
        committed = snap.committed
        if job_id is not None and epoch is not None:
            committed = _bookmarked(snap, job_id, epoch, lsn_max)
            if committed is None:
                return MergeStats(epoch_skipped=True)

        key = snap.key
        schema = snap.schema
        data_cols = [f.name for f in schema.fields]

        src = batch
        if op_col is None or op_col not in src.columns:
            src = src.withColumn("__op", F.lit("U"))
        else:
            src = src.withColumnRenamed(op_col, "__op")
        src = src.withColumn("__op", F.coalesce(F.col("__op"), F.lit("U")))
        # align payload columns (D rows may carry nulls; key must be present)
        src_aligned = _with_bucket(self._align(src, schema, passthrough=("__op",)), snap)

        # bucket pruning: read only buckets the batch touches. The distinct
        # bucket list is tiny (<= n_buckets ints) -- driver collect is safe.
        touched = [r[0] for r in src_aligned.select(_BUCKET).distinct().collect()]
        target = _with_bucket(self.read_buckets(touched, version=snap.version), snap)

        s_cols = [F.col(f"s.{c}").alias(f"s_{c}") for c in data_cols]
        t_cols = [F.col(f"t.{c}").alias(f"t_{c}") for c in data_cols]
        joined = (
            target.alias("t")
            .join(src_aligned.alias("s"), F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
            .select(
                *t_cols,
                *s_cols,
                F.col("s.__op").alias("s_op"),
                F.coalesce(F.col(f"t.{_BUCKET}"), F.col(f"s.{_BUCKET}")).alias(_BUCKET),
            )
        )

        matched = F.col(f"t_{key}").isNotNull() & F.col(f"s_{key}").isNotNull()
        src_only = F.col(f"t_{key}").isNull() & F.col(f"s_{key}").isNotNull()
        is_del = F.col("s_op") == F.lit("D")

        # stale-event guard: with a precedence column (the source LSN), a
        # MATCHED src row older than the target row is a no-op. Scope: this
        # protects keys that still exist in the table; a delete removes the
        # row AND its lsn, so a re-delivered older upsert for a deleted key
        # has nothing to compare against and would re-insert. Cross-epoch
        # replay of deleted keys is instead prevented by the (job_id, epoch)
        # bookmark (a replayed epoch is skipped wholesale), and in-epoch
        # ordering by the upstream LWW dedup.
        if precedence_col is not None:
            if precedence_col not in data_cols:
                raise ValueError(f"precedence column not in table schema: {precedence_col}")
            stale = matched & (
                F.col(f"s_{precedence_col}") < F.col(f"t_{precedence_col}")
            ).cast("boolean").eqNullSafe(F.lit(True))
        else:
            stale = F.lit(False)

        if mode == "upsert":
            keep = (F.col(f"t_{key}").isNotNull() & (F.col(f"s_{key}").isNull() | stale | ~is_del)) | (
                src_only & ~is_del
            )
            take_src = F.col(f"s_{key}").isNotNull() & ~is_del & ~stale
        elif mode == "update":
            keep = F.col(f"t_{key}").isNotNull() & ~(matched & is_del & ~stale)
            take_src = matched & ~is_del & ~stale
        elif mode == "insert_new":
            keep = F.col(f"t_{key}").isNotNull() | (src_only & ~is_del)
            take_src = src_only & ~is_del
        else:
            raise ValueError(f"unknown merge mode: {mode}")

        obs = Observation("merge_stats")
        observed = joined.observe(
            obs,
            F.sum((src_only & ~is_del).cast("long")).alias("ins"),
            F.sum((matched & ~is_del & ~stale).cast("long")).alias("upd"),
            F.sum((matched & is_del & ~stale).cast("long")).alias("dele"),
        )
        result = observed.filter(keep).select(
            *[
                F.when(take_src, F.col(f"s_{c}")).otherwise(F.col(f"t_{c}")).alias(c)
                for c in data_cols
            ],
            F.col(_BUCKET),
        )

        entries = self._write_data(result, snap, stats_cols=self._stats_cols(snap))
        touched_set = set(touched)
        kept_files = [e for e in snap.files if not touched_set.intersection(e.buckets)]
        self._write_snapshot(
            _successor(snap, files=kept_files + entries, committed=committed)
        )
        try:
            row = obs.get
        except Exception:
            # AQE's empty-relation propagation elides a CollectMetrics that
            # sits below a shuffle whose map output is EMPTY -- i.e. a merge
            # whose batch deletes every surviving row of the touched buckets
            # (found by the maintenance ops-fuzz; reproduced standalone:
            # observe -> filter-to-empty -> repartition -> write loses the
            # observation, the same chain without the repartition does not).
            # Recompute the same three aggregates with one explicit job;
            # the inputs are still on disk (old files are unreferenced by
            # the new snapshot, never deleted) and the corner is rare.
            row = joined.agg(
                F.sum((src_only & ~is_del).cast("long")).alias("ins"),
                F.sum((matched & ~is_del & ~stale).cast("long")).alias("upd"),
                F.sum((matched & is_del & ~stale).cast("long")).alias("dele"),
            ).collect()[0].asDict()
        ins, upd, dele = (row.get("ins") or 0), (row.get("upd") or 0), (row.get("dele") or 0)
        if mode == "update":
            ins = 0
        if mode == "insert_new":
            upd = 0
        return MergeStats(
            rows_inserted=int(ins),
            rows_updated=int(upd),
            rows_deleted=int(dele),
            buckets_touched=len(touched),
            wall_ms=int((time.time() - t0) * 1000),
        )

    # ------------------------------------------------------------------
    # schema evolution (metadata-only commits)
    # ------------------------------------------------------------------
    def _evolve(self, new_schema: TableSchema) -> None:
        snap = self.snapshot()
        schemas = dict(snap.schemas)
        schemas[new_schema.schema_id] = new_schema
        key = snap.key
        if snap.key_field_id is not None:
            kf = new_schema.field_by_id(snap.key_field_id)
            if kf is None:
                raise ValueError("cannot drop/lose the merge key column")
            key = kf.name
        self._write_snapshot(
            _successor(snap, schema_id=new_schema.schema_id, schemas=schemas, key=key)
        )

    def add_column(self, name: str, type_ddl: str) -> None:
        self._evolve(self.snapshot().schema.add_column(name, type_ddl))

    def rename_column(self, old: str, new: str) -> None:
        self._evolve(self.snapshot().schema.rename_column(old, new))

    def widen_type(self, name: str, new_type: str) -> None:
        self._evolve(self.snapshot().schema.widen_type(name, new_type))

    def drop_column(self, name: str) -> None:
        self._evolve(self.snapshot().schema.drop_column(name))

    # ------------------------------------------------------------------
    # bookkeeping
    # ------------------------------------------------------------------
    def set_properties(self, updates: dict[str, str]) -> None:
        """Metadata-only commit updating table properties."""
        snap = self.snapshot()
        self._write_snapshot(_successor(snap, properties={**snap.properties, **updates}))

    def committed_epoch(self, job_id: str) -> int:
        return self.snapshot().committed.get(job_id, {}).get("epoch", -1)

    def committed_lsn(self, job_id: str) -> int | None:
        return self.snapshot().committed.get(job_id, {}).get("lsn_max")

    def row_count(self) -> int:
        return sum(e.rows for e in self.snapshot().files)

    def drop(self) -> None:
        """DROP TABLE: delete all data files, metadata, and the table root
        (stratum DROP TABLE, SURVEY §2.6). Irreversible; the handle is
        unusable afterwards."""
        shutil.rmtree(self.root)
        self._snap = None

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Garbage-collect history: keep the newest `keep_last` snapshot
        versions, delete older version files and any data file no retained
        snapshot references (Iceberg expire_snapshots analog). Time travel
        remains valid for retained versions only. Returns deletion counts."""
        metas = sorted(
            f for f in os.listdir(os.path.join(self.root, _META)) if f.startswith("v")
        )
        if len(metas) <= keep_last:
            return {"snapshots_removed": 0, "files_removed": 0}
        keep, drop = metas[-keep_last:], metas[:-keep_last]
        referenced: set[str] = set()
        for m in keep:
            with open(os.path.join(self.root, _META, m)) as fh:
                s = Snapshot.from_json(json.load(fh))
            referenced.update(e.path for e in s.files)
        files_removed = 0
        for m in drop:
            with open(os.path.join(self.root, _META, m)) as fh:
                s = Snapshot.from_json(json.load(fh))
            for e in s.files:
                if e.path not in referenced:
                    full = os.path.join(self.root, e.path)
                    if os.path.isfile(full):
                        os.remove(full)
                        files_removed += 1
            os.remove(os.path.join(self.root, _META, m))
        # sweep now-empty commit dirs
        data_root = os.path.join(self.root, _DATA)
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                full = os.path.join(data_root, d)
                if os.path.isdir(full) and not os.listdir(full):
                    shutil.rmtree(full)
        return {"snapshots_removed": len(drop), "files_removed": files_removed}

    def rollback(self, version: int) -> int:
        """Roll the table back to an earlier snapshot by committing a NEW
        snapshot whose content equals the old one (Iceberg
        rollback_to_snapshot analog: history is preserved — the rollback is
        itself a version, so it can in turn be rolled back). The per-job
        `committed` bookmarks roll back WITH the data: an exactly-once
        replay after rollback resumes from the rolled-back epoch and
        converges to the identical final state (asserted by
        test_rollback_then_replay_converges). Raises FileNotFoundError if
        `version` was expired by expire_snapshots, and CommitConflict if it
        loses the commit race _COMMIT_ATTEMPTS times. Returns the new
        version."""
        target = self.snapshot(version)
        return self._commit_rebased(
            lambda cur: dataclasses.replace(target, version=cur.version + 1), "rollback"
        ).version

    def remove_orphaned_files(self, grace_sec: float = 3600.0) -> dict:
        """Delete data files under the table root that NO retained snapshot
        references (Iceberg remove_orphan_files analog). Orphans are a
        designed-in byproduct of the two-phase exactly-once protocol:
        phase 1 (write_epoch_files) lands files BEFORE any snapshot
        references them, so a crash between write and commit — or a
        replayed epoch whose commit the exactly-once guard skipped — leaves
        correctness-harmless garbage that still costs storage; at the
        documented 10^10-event scale that garbage is worth sweeping.

        Only files older than `grace_sec` (mtime) are touched, so in-flight
        phase-1 writes — the deep-pipelined backfill prefetches epoch N+1's
        write DURING epoch N's commit — are never swept; commit dirs still
        holding a Spark `_temporary` staging dir are skipped outright.
        Driver-side listing is O(files) stat calls on the shared warehouse
        fs — the same visibility the write path already requires — and
        never runs a Spark job. Returns deletion counts."""
        referenced: set[str] = set()
        for s in self.history():
            referenced.update(e.path for e in s.files)
        cutoff = time.time() - grace_sec
        data_root = os.path.join(self.root, _DATA)
        removed = dirs_removed = 0
        bytes_removed = 0
        if not os.path.isdir(data_root):
            return {"files_removed": 0, "dirs_removed": 0, "bytes_removed": 0}
        for d in sorted(os.listdir(data_root)):
            cdir = os.path.join(data_root, d)
            if not os.path.isdir(cdir):
                continue
            names = os.listdir(cdir)
            if "_temporary" in names:  # write in progress
                continue
            live = 0
            for fn in names:
                if not fn.endswith(".parquet"):
                    continue  # sidecars (_SUCCESS, .crc) go with the dir
                rel = os.path.join(_DATA, d, fn)
                full = os.path.join(cdir, fn)
                try:
                    st = os.stat(full)
                except FileNotFoundError:
                    continue
                if rel in referenced or st.st_mtime > cutoff:
                    live += 1
                else:
                    os.remove(full)
                    removed += 1
                    bytes_removed += st.st_size
            if live == 0 and os.path.getmtime(cdir) <= cutoff:
                # nothing referenced or recent remains: drop the dir and
                # its sidecar markers in one sweep
                shutil.rmtree(cdir, ignore_errors=True)
                dirs_removed += 1
        return {
            "files_removed": removed,
            "dirs_removed": dirs_removed,
            "bytes_removed": bytes_removed,
        }

    def compact(self, target_files_per_bucket: int = 1) -> None:
        """Rewrite buckets whose file count exceeds the target (maintenance;
        Iceberg rewrite_data_files analog)."""
        snap = self.snapshot()
        by_bucket: dict[int, list[FileEntry]] = {}
        for e in snap.files:
            for b in e.buckets:
                by_bucket.setdefault(b, []).append(e)
        todo = [b for b, es in by_bucket.items() if len(es) > target_files_per_bucket]
        if not todo:
            return
        df = _with_bucket(self.read_buckets(todo, version=snap.version), snap)
        entries = self._write_data(df, snap, stats_cols=self._recorded_stats_cols(snap))
        todo_set = set(todo)
        kept = [e for e in snap.files if not todo_set.intersection(e.buckets)]
        self._write_snapshot(_successor(snap, files=kept + entries))

    def rebucket(self, new_n_buckets: int) -> int:
        """Bucket-count evolution (Iceberg partition-spec evolution analog):
        change the key-hash modulus of a live table when the original
        n_buckets was mis-sized for the data that actually arrived.

        The scale path is METADATA-ONLY: when new = k x old, pmod refines
        -- h mod old == b implies h mod new is in {b + j*old, j<k} -- so
        every existing file's bucket set is remapped to its exact derived
        set and NOT A BYTE of a (possibly 100 TB) table moves. New writes
        cluster at the new granularity immediately; old files' pruning
        granularity catches up as ordinary compaction rewrites them. This
        mirrors how Iceberg applies a new partition spec to new data only.

        A non-multiple change cannot be derived from the old hash and
        falls back to a full clustered rewrite (one shuffle, one atomic
        snapshot) -- still correct, priced honestly.

        Readers/writers derive the modulus from the snapshot
        (_bucket_expr), so merges, touched-bucket discovery and pruning
        adopt the new count on their next snapshot read."""
        snap = self.snapshot()
        if snap.key is None:
            raise ValueError("rebucket requires a merge key (keyless tables "
                             "have no meaningful bucket identity)")
        if new_n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if new_n_buckets == snap.n_buckets:
            return snap.version
        if new_n_buckets % snap.n_buckets == 0:
            k = new_n_buckets // snap.n_buckets
            files = [
                dataclasses.replace(
                    e,
                    buckets=tuple(sorted(
                        b + j * snap.n_buckets for b in e.buckets for j in range(k)
                    )),
                )
                for e in snap.files
            ]
        else:
            layout = dataclasses.replace(snap, n_buckets=new_n_buckets)
            files = self._write_data(
                _with_bucket(self._read_entries(snap.files, snap), layout), layout,
                stats_cols=self._recorded_stats_cols(snap),
            )
        new = _successor(snap, n_buckets=new_n_buckets, files=files)
        self._write_snapshot(new)
        return new.version

    def compact_binpack(
        self,
        small_file_bytes: int = 32 << 20,
        target_file_bytes: int = 128 << 20,
    ) -> dict:
        """Size-aware small-file compaction (Iceberg rewrite_data_files
        BinPackStrategy analog): coalesce ONLY files below small_file_bytes
        into ~target_file_bytes outputs, leaving every healthy file's bytes
        untouched. `compact()` above rewrites whole over-target buckets --
        right after a cow MERGE storm, wrong for a 100 TB table where a
        bucket's base file is tens of GB and the stragglers are a few MB of
        appends: bin-pack reads and rewrites ONLY the straggler bytes.

        Candidates are grouped by their exact bucket-set signature (files
        from clustered commits with the same layout share split->bucket
        assignments, so same-split files across commits group naturally;
        unclustered delta-table files all cover every bucket and form one
        group) and coalesced within the group, so every rewritten file
        keeps a bucket set identical to its inputs -- bucket-pruned reads
        and merges prune exactly as well after the rewrite as before.
        File sizes come from the manifest (size_bytes, recorded at write
        time); entries predating the field fall back to one getsize each.

        One atomic snapshot commits all groups; a crash mid-rewrite leaves
        only unreferenced files for remove_orphaned_files. Rows are moved
        verbatim (no dedup, no filter), so state() is invariant and
        read_changes across the rewrite diffs to zero rows. Old-schema
        candidate files are resolved to the current schema on read, so
        bin-pack doubles as lazy schema-migration of cold small files.
        Returns {files_in, files_out, bytes_in, groups}."""
        import math

        snap = self.snapshot()

        def _size(e: FileEntry) -> int:
            if e.size_bytes is not None:
                return e.size_bytes
            return os.path.getsize(os.path.join(self.root, e.path))

        groups: dict[tuple, list[FileEntry]] = {}
        for e in snap.files:
            if _size(e) < small_file_bytes:
                groups.setdefault(tuple(sorted(e.buckets)), []).append(e)
        groups = {sig: es for sig, es in groups.items() if len(es) >= 2}
        if not groups:
            return {"files_in": 0, "files_out": 0, "bytes_in": 0, "groups": 0}

        stats_cols = tuple(
            sorted({c for es in groups.values() for e in es if e.stats for c in e.stats})
        )
        rewritten: set[str] = set()
        new_entries: list[FileEntry] = []
        bytes_in = 0
        driver_groups = 0
        for sig, es in groups.items():
            g_bytes = sum(_size(e) for e in es)
            bytes_in += g_bytes
            # driver fast path: a group of current-schema files totalling
            # under one target file concatenates via pyarrow -- ZERO Spark
            # jobs. This is what keeps per-epoch metadata tables (lineage
            # appends one tiny file per epoch) compactable from a worker
            # thread without ever touching the cluster; mirrors
            # append_local on the write side.
            if g_bytes <= target_file_bytes and all(
                e.schema_id == snap.schema_id for e in es
            ):
                new_entries.append(self._binpack_group_local(es, sig, snap, stats_cols))
                driver_groups += 1
            else:
                df = self._read_entries(es, snap)
                k = max(1, math.ceil(g_bytes / target_file_bytes))
                out = self._write_data(
                    df.coalesce(k), snap, clustered=False, stats_cols=stats_cols
                )
                # the group's files all cover exactly `sig`; stamp the
                # outputs with that same set (write_data's unclustered path
                # marks all buckets -- correct but prune-hostile)
                new_entries.extend(dataclasses.replace(e, buckets=sig) for e in out)
            rewritten.update(e.path for e in es)
        self._commit_rewrite(rewritten, new_entries, snap)
        return {
            "files_in": len(rewritten),
            "files_out": len(new_entries),
            "bytes_in": bytes_in,
            "groups": len(groups),
            "driver_groups": driver_groups,
        }

    def _binpack_group_local(
        self,
        es: list[FileEntry],
        sig: tuple,
        snap: Snapshot,
        stats_cols: tuple[str, ...],
    ) -> FileEntry:
        """Concatenate one bin-pack group driver-side with pyarrow (no
        Spark job); only called for same-schema groups small enough to be
        a single output file."""
        import pyarrow.parquet as pq

        commit_id = uuid.uuid4().hex[:16]
        rel_dir = os.path.join(_DATA, commit_id)
        out_dir = os.path.join(self.root, rel_dir)
        os.makedirs(out_dir)
        tbl = pq.read_table([os.path.join(self.root, e.path) for e in es])
        rel = os.path.join(rel_dir, "part-00000-binpack.parquet")
        out_path = os.path.join(self.root, rel)
        # Spark writes timestamps as INT96, which pyarrow surfaces as
        # nanoseconds; written back verbatim they'd become TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects against a `timestamp`
        # schema. Coerce to micros (Spark's internal precision -- lossless).
        pq.write_table(
            tbl, out_path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        rows, bounds, size = _parquet_footer(out_path, stats_cols)
        return FileEntry(
            path=rel,
            buckets=sig,
            schema_id=snap.schema_id,
            rows=rows,
            stats=bounds or None,
            size_bytes=size,
        )

    def _commit_rewrite(
        self,
        rewritten: set[str],
        new_entries: list[FileEntry],
        base: Snapshot,
    ) -> None:
        """Commit a REWRITE (inputs replaced by outputs) through the rebase
        loop: a rewrite rebases safely onto any snapshot that still
        references every input file (concurrent APPENDS compose -- their
        files are kept). If an input vanished (a concurrent rewrite/expiry
        won), abandon: the outputs become unreferenced orphans for
        remove_orphaned_files, and the table is untouched."""

        def derive(cur: Snapshot) -> Snapshot:
            if not rewritten <= {e.path for e in cur.files}:
                raise CommitConflict(
                    "bin-pack inputs were removed by a concurrent rewrite; "
                    "abandoning (outputs left as orphans for gc)"
                )
            kept = [e for e in cur.files if e.path not in rewritten]
            return _successor(cur, files=kept + new_entries)

        self._commit_rebased(derive, "rewrite")
