"""miniberg — an Iceberg-style snapshot-committed table format over Parquet.

Built from scratch (no Iceberg/Delta jars exist in this environment — SURVEY.md
§0) to provide exactly what the CDC sink needs, mirroring the transactional
commit the reference performs per scrape session
(``persistence/update_historical_snapshots`` commits master+history rows in one
DB transaction — SURVEY.md §3.1):

- **Atomic commit**: a snapshot is one JSON manifest ``meta/v{N}.json``; the
  commit *is* the atomic creation of that file (``os.link`` of a fully-written
  temp file -> fails if the version already exists, i.e. optimistic CAS, the
  same HadoopTableOperations trick Iceberg uses on HDFS).
- **Exactly-once / idempotent replay**: each manifest carries
  ``last_applied_batch``; re-applying a batch <= watermark is a no-op.
- **Time travel**: every ``v{N}.json`` is immutable; read any version.
- **Schema evolution**: field-id'd schema per snapshot; per-file ``schema_id``;
  readers align old files to the current schema (add-column -> null fill,
  int32->int64 / float->double widening -> cast on read).
- **Bucket pruning**: every data file belongs to one ``pmod(xxhash64(doc_id),
  num_buckets)`` bucket recorded in the manifest; MERGE reads only the buckets
  a batch touches (Iceberg partition-pruned copy-on-write, re-expressed).
- **Lineage**: per-commit metrics rows under ``meta/lineage/``.
- **Key-range file skipping**: every file entry records the key column's
  footer min/max (free — the footer is already read at stage time);
  ``read_keys`` prunes a point lookup to the key's hash bucket(s) AND to
  the files whose range can contain it (Iceberg data-skipping re-expressed).

Orphan data files (written but never committed — e.g. a crash between the
staging write and the manifest link) are invisible: the manifest is the sole
source of truth. ``gc_orphans`` removes them (with a grace window so a racing
writer's just-staged files survive until its CAS resolves).

MANIFEST TREE (the Iceberg manifest-list -> manifest analog), one layout
for every bucket count. The root ``v{N}.json`` holds ``bucket_ranges =
{size, ranges}``: ``size = isqrt(num_buckets)`` buckets per range, and
``ranges[lo] = {path, n_buckets, n_files, rows, bytes}`` for every range
that holds a bucket. Each ``path`` names an immutable, content-addressed
RANGE manifest under ``meta/fm/<md5>.json`` mapping each of its buckets to
that bucket's summary (sidecar path + n_files/rows/bytes[/keys]); the
SIDECAR, also content-addressed under ``meta/fm/``, lists the bucket's file
entries. Consequences:

- a commit touching k buckets rewrites at most k range manifests, their
  sidecars and a ~sqrt(B)-entry root; untouched ranges and buckets are
  carried verbatim (same content -> same hash -> zero writes), so the driver
  never parses the full file list or the full bucket map to commit.
- reads resolve bucket -> range -> sidecar, loading only the touched
  buckets' ranges and sidecars: bucket pruning prunes the manifest parse.
- the diff of two snapshots loads only ranges whose path differs.

Measured (``tools/manifest_scale_bench.py``, BENCH/BASELINE.md "One
manifest layout"): a commit touching one bucket takes about 3 ms at 64
buckets, 4 ms at 10^4 and 9 ms at 10^5, whose root is 53 KiB. A
``v{N}.json`` of any other ``format`` is refused on read.

LIMITS (documented scale envelope; see maintenance.py for the mitigations):

- **a full bootstrap commit is O(buckets)** (one sidecar per bucket; about
  36 s at 10^5 buckets, one-time). Compaction (``compact``, or
  ``compact='auto'`` in apply) bounds files at ~``compact_files_per_bucket``
  per bucket, so sidecars stay tiny.
- **num_buckets is chosen at creation**, and a COW rewrite touches whole
  buckets — at 100 TB a 16-bucket table would make every merge rewrite
  multi-TB. ``maintenance.split_buckets`` re-buckets N -> factor*N in one
  atomic commit and is SHUFFLE-FREE (pmod(h, 2N) keeps each row within its
  old bucket's residue class), so the envelope is: create with a sane bucket
  count for the bootstrap size, split as the table grows (each split halves
  per-bucket rewrite cost; run it like compaction, as a ride-along commit).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import itertools
import json
import math
import os
import re
import shutil
import struct
import uuid
from time import time as _now

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FORMAT = "miniberg/2"
# _seq: last-applied event_seq (staleness watermark per row)
# _deleted: tombstone flag — deletes keep the row (payload nulled) so a
#   later-arriving STALE update cannot resurrect the doc; reads filter these.
INTERNAL_COLS = ("_seq", "_deleted")

# the table's bucket function, as the manifest records it (``bucket_expr``);
# ``Miniberg.bucket_expr`` is its Spark column, ``Miniberg.key_bucket`` its
# driver twin
BUCKET_SQL = "pmod(xxhash64({key}), {n})"

# read_keys: largest key list rendered as an `isin` literal (parquet In
# pushdown); bigger lists switch to a broadcast semi-join (a 10^5-literal In
# bloats the plan/task binaries faster than it helps the scan)
READ_KEYS_ISIN_MAX = 1_000
_BRANCH_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")

# type-widening lattice (Iceberg's promotion rules subset)
_WIDEN = {
    ("integer", "long"): True,
    ("float", "double"): True,
    ("integer", "double"): True,
}


class CommitConflict(Exception):
    """Another writer committed this version first (CAS failure)."""


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto schema: missing column -> null, narrower physical type
    -> widen-cast. THE single alignment rule — shared by the snapshot reader
    and the merge writer so evolution semantics cannot drift apart."""
    cols = [
        (
            F.col(f.name).cast(f.dataType)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in schema.fields
    ]
    return df.select(cols)


def _nullable(t: T.DataType) -> T.DataType:
    """``t`` with every nested element and field nullable: how a table stores
    a nested type, so ``align_to_schema`` can cast any incoming one to it."""
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nullable(t.elementType))
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType)) for f in t.fields])
    return t


class Miniberg:
    def __init__(self, root: str, *, branch: str | None = None):
        """``branch`` opens the table AT A BRANCH: an isolated manifest chain
        under ``meta/branches/<name>/`` that shares the table's immutable
        data files and content-addressed sidecars (``meta/fm/``) with main.
        Every DATA operation on a branch handle — read, time travel, commit
        with CAS + rebase, compact, apply — works unchanged, scoped to the
        branch's chain; main never observes branch commits until
        ``publish_branch``. Lineage rows written on a branch live under the
        branch too (they merge into main's at publish). The exceptions are
        the shared-storage maintenance ops — ``gc_orphans`` and
        ``expire_snapshots`` — which must run from the MAIN handle (they
        raise on a branch handle: a branch's chain alone does not pin
        main's or sibling branches' files in the shared data/ and fm/
        dirs, so collecting from it would delete live data)."""
        self.root = root
        self.branch = branch
        base_meta = os.path.join(root, "meta")
        self.meta_dir = (
            base_meta if branch is None
            else os.path.join(base_meta, "branches", branch)
        )
        self.data_dir = os.path.join(root, "data")
        self.lineage_dir = os.path.join(self.meta_dir, "lineage")
        self.fm_dir = os.path.join(base_meta, "fm")

    # ------------------------------------------------------------- creation
    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        *,
        num_buckets: int = 16,
        key_col: str = "doc_id",
        props: dict | None = None,
    ) -> "Miniberg":
        t = cls(root)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.lineage_dir, exist_ok=True)
        os.makedirs(t.fm_dir, exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": f.dataType.jsonValue(), "nullable": f.nullable}
            for i, f in enumerate(schema.fields)
        ]
        manifest = {
            "format": FORMAT,
            "table_uuid": str(uuid.uuid4()),
            "version": 0,
            "parent": None,
            "schema_id": 0,
            "schemas": {"0": {"fields": fields}},
            "num_buckets": num_buckets,
            "key_col": key_col,
            "bucket_expr": BUCKET_SQL.format(key=key_col, n=num_buckets),
            "last_applied_batch": -1,
            "props": props or {},
            "bucket_ranges": {"size": cls._range_size(num_buckets), "ranges": {}},
        }
        t._write_manifest(0, manifest)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return bool(glob.glob(os.path.join(root, "meta", "v*.json")))

    # ------------------------------------------------------------- manifests
    def _vpath(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version:06d}.json")

    def current_version(self) -> int:
        versions = [
            int(os.path.basename(p)[1:-5]) for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        ]
        if not versions:
            raise FileNotFoundError(f"no miniberg table at {self.root}")
        return max(versions)

    def manifest(self, version: int | None = None) -> dict:
        """Snapshot ``version`` (default: the current one). A manifest of
        another ``format`` raises ``ValueError``: read with this layout, it
        would name no files, and GC or expiry would then delete live data."""
        v = self.current_version() if version is None else version
        with open(self._vpath(v)) as f:
            m = json.load(f)
        if m.get("format") != FORMAT:
            raise ValueError(
                f"{self._vpath(v)} has manifest format {m.get('format')!r}; "
                f"this engine reads {FORMAT!r} only"
            )
        return m

    def versions(self) -> list[int]:
        """Existing (non-expired) snapshot versions, ascending."""
        return sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        )

    def snapshots(self) -> list[dict]:
        return [self.manifest(v) for v in self.versions()]

    def history(self) -> list[dict]:
        """The snapshot log (Iceberg history/snapshots-table analog): one row
        per surviving manifest, ascending — version, parent, commit wall
        time, watermark, schema, bucket function, props. O(versions) root
        reads, never touches sidecars; expired versions are simply absent
        (their rows live only in backups/time-travel no longer possible)."""
        out = []
        for v in self.versions():
            m = self.manifest(v)
            out.append({
                "version": m["version"],
                "parent": m.get("parent"),
                "committed_at": m.get("committed_at"),
                "last_applied_batch": m.get("last_applied_batch"),
                "schema_id": m.get("schema_id"),
                "num_buckets": m.get("num_buckets"),
                "props": m.get("props", {}),
            })
        return out

    def _write_manifest(self, version: int, manifest: dict) -> None:
        """Atomic CAS: link a fully-written temp file to the version path.
        Every manifest gets a ``committed_at`` wall-clock stamp here — the
        single write chokepoint (create/commit/rollback/branch/publish all
        pass through), feeding ``history()`` and age-based expiry."""
        manifest = {**manifest, "committed_at": round(_now(), 3)}
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._vpath(version))
        except FileExistsError as e:
            raise CommitConflict(f"version {version} already committed") from e
        finally:
            os.unlink(tmp)

    # ------------------------------------------------------- manifest tree
    def _write_blob(self, payload: str) -> str:
        """Content-addressed immutable JSON blob under ``meta/fm/`` — THE
        single write rule shared by bucket sidecars and range manifests
        (same hashing, CAS, and GC-grace-refresh semantics). Unchanged
        content re-derives the same hash, so carrying it writes nothing; two
        racing writers of the same content are both correct."""
        os.makedirs(self.fm_dir, exist_ok=True)
        h = hashlib.md5(payload.encode()).hexdigest()
        rel = os.path.join("meta", "fm", f"{h}.json")
        dest = os.path.join(self.root, rel)
        if not os.path.exists(dest):
            tmp = dest + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, dest)
            except FileExistsError:
                pass  # same content-addressed blob already exists
            finally:
                os.unlink(tmp)
        else:
            # refresh mtime: reusing an existing (possibly orphaned) blob
            # must restart its GC grace window, or a concurrent gc_orphans
            # could unlink it between this write and our manifest CAS
            try:
                os.utime(dest)
            except OSError:
                pass  # racing GC removed it — recreate
            if not os.path.exists(dest):
                return self._write_blob(payload)
        return rel

    def _restore_blobs(self, written: dict[str, str]) -> None:
        """Close the blob-reuse/GC race after a manifest CAS: a concurrent
        gc_orphans that read a stale mtime just before ``_write_blob``'s
        refresh can unlink a REUSED (previously orphaned) blob before the
        manifest landed. Recreate any missing one from its in-memory payload
        (content-addressed -> same path). Carried blobs are pinned by the
        parent manifest, so GC never eats them."""
        for rel, payload in written.items():
            if not os.path.exists(os.path.join(self.root, rel)):
                self._write_blob(payload)

    @staticmethod
    def _range_size(num_buckets: int) -> int:
        """Buckets per range manifest: ~sqrt(B) balances root size against
        per-commit range rewrites (10^5 buckets -> 316-entry root)."""
        return max(1, math.isqrt(num_buckets))

    @staticmethod
    def _range_lo(bucket: int, size: int) -> str:
        return str((bucket // size) * size)

    def _load_blob(self, rel_path: str):
        """A ``meta/fm/`` blob: a range manifest's {bucket_str:
        summary-with-path} map or a sidecar's file-entry list."""
        with open(os.path.join(self.root, rel_path)) as f:
            return json.load(f)

    def _bucket_map(self, m: dict, los=None) -> dict[str, dict]:
        """{bucket_str: summary-with-path} of the ranges ``los`` (default:
        all of them — O(buckets))."""
        ranges = m["bucket_ranges"]["ranges"]
        out: dict[str, dict] = {}
        for lo in ranges if los is None else los:
            if lo in ranges:
                out.update(self._load_blob(ranges[lo]["path"]))
        return out

    def _iter_bucket_summaries(self, m: dict, buckets=None):
        """(bucket_str, summary) pairs in bucket order, loading ONLY the
        requested buckets' range manifests."""
        size = m["bucket_ranges"]["size"]
        ranges = m["bucket_ranges"]["ranges"]
        if buckets is None:
            for lo in sorted(ranges, key=int):
                yield from sorted(self._load_blob(ranges[lo]["path"]).items(),
                                  key=lambda kv: int(kv[0]))
            return
        want = sorted({int(b) for b in buckets})
        for lo, group in itertools.groupby(want, key=lambda b: self._range_lo(b, size)):
            if lo not in ranges:
                continue
            rm = self._load_blob(ranges[lo]["path"])
            for b in group:
                if str(b) in rm:
                    yield str(b), rm[str(b)]

    def _changed_bucket_set(self, a: dict, b: dict) -> set[int]:
        """Buckets whose sidecar path differs between manifests ``a`` and
        ``b`` — THE single snapshot diff (rebase, publish, changed_buckets).
        Equal range paths mean equal contents, so with one range size only
        ranges whose path differs are loaded: O(ranges + changed buckets).
        Manifests of different bucket functions compare every bucket."""
        ra, rb = a["bucket_ranges"], b["bucket_ranges"]
        los = None
        if ra["size"] == rb["size"]:
            los = {
                lo for lo in set(ra["ranges"]) | set(rb["ranges"])
                if ra["ranges"].get(lo, {}).get("path")
                != rb["ranges"].get(lo, {}).get("path")
            }
        sa, sb = self._bucket_map(a, los), self._bucket_map(b, los)
        return {
            int(bk) for bk in set(sa) | set(sb)
            if sa.get(bk, {}).get("path") != sb.get(bk, {}).get("path")
        }

    def bucket_summaries(self, m: dict | None = None) -> dict[int, dict]:
        """Per-bucket {path, n_files, rows, bytes[, keys]} of manifest ``m``
        (default: the current one) — loads range manifests, never a
        sidecar."""
        m = self.manifest() if m is None else m
        return {int(bk): s for bk, s in self._bucket_map(m).items()}

    def files(
        self, version: int | None = None, *, buckets: list[int] | None = None,
        manifest: dict | None = None,
    ) -> list[dict]:
        """File entries for a snapshot, loading ONLY the range manifests and
        sidecars of the requested buckets — bucket pruning prunes the
        manifest parse too."""
        m = manifest if manifest is not None else self.manifest(version)
        return [
            e for _bk, s in self._iter_bucket_summaries(m, buckets)
            for e in self._load_blob(s["path"])
        ]

    def _bucket_summary(
        self, entries: list[dict], record: dict[str, str], keys: int | None = None
    ) -> dict:
        """Write one bucket's sidecar + return its summary row, stamped with
        ``keys`` or, for all-base entries, their rows (see ``commit``).
        ``record`` collects {rel: payload} of every blob written, for the
        post-CAS ``_restore_blobs``."""
        rows = sum(e.get("rows", 0) for e in entries)
        if keys is None and any(e.get("kind") == "delta" for e in entries):
            raise ValueError(f"bucket {entries[0]['bucket']} holds delta files: "
                             "its commit must stamp it in bucket_keys")
        payload = json.dumps(sorted(entries, key=lambda e: e["path"]), sort_keys=True)
        rel = self._write_blob(payload)
        record[rel] = payload
        return {
            "path": rel,
            "n_files": len(entries),
            "rows": rows,
            "bytes": sum(e.get("bytes", 0) for e in entries),
            "keys": rows if keys is None else keys,
        }

    def _range_summary(self, rmap: dict[str, dict], record: dict[str, str]) -> dict:
        """Write one range manifest + return its root row."""
        payload = json.dumps(rmap, sort_keys=True)
        rel = self._write_blob(payload)
        record[rel] = payload
        return {
            "path": rel,
            "n_buckets": len(rmap),
            "n_files": sum(s["n_files"] for s in rmap.values()),
            "rows": sum(s.get("rows", 0) for s in rmap.values()),
            "bytes": sum(s.get("bytes", 0) for s in rmap.values()),
        }

    def _ranges_from_summaries(
        self, summaries: dict[str, dict], num_buckets: int, record: dict[str, str]
    ) -> dict:
        """The ``bucket_ranges`` block of a full {bucket_str: summary} map —
        for a new bucket function (split) and ``publish_branch``. Range
        manifests are content-addressed, so a range whose contents did not
        change is rewritten to the path it already has."""
        size = self._range_size(num_buckets)
        grouped: dict[str, dict] = {}
        for bk, s in summaries.items():
            grouped.setdefault(self._range_lo(int(bk), size), {})[bk] = s
        return {
            "size": size,
            "ranges": {
                lo: self._range_summary(rmap, record)
                for lo, rmap in sorted(grouped.items(), key=lambda kv: int(kv[0]))
            },
        }

    # ------------------------------------------------------------- schema
    def spark_schema(self, version: int | None = None, *, include_internal: bool = True) -> T.StructType:
        m = self.manifest(version)
        return self._schema_struct(m, m["schema_id"], include_internal=include_internal)

    @staticmethod
    def _schema_struct(m: dict, schema_id: int, *, include_internal: bool = True) -> T.StructType:
        fields = m["schemas"][str(schema_id)]["fields"]
        return T.StructType(
            [
                T.StructField(f["name"], _type_from_json(f["type"]), f["nullable"])
                for f in fields
                if include_internal or f["name"] not in INTERNAL_COLS
            ]
        )

    def evolve_schema(self, new_schema: T.StructType) -> tuple[dict, bool]:
        """Merge new_schema into the current one (adds + widens). Returns
        (fields-json, changed). Drops/renames are rejected — same rules the
        reference implicitly follows (columns only ever added / widened,
        SURVEY.md §1.1(2)). A nested type is stored ``_nullable`` and never
        widens."""
        m = self.manifest()
        cur = {f["name"]: dict(f) for f in m["schemas"][str(m["schema_id"])]["fields"]}
        next_id = max(f["id"] for f in cur.values()) + 1 if cur else 1
        changed = False
        for f in new_schema.fields:
            j = _nullable(f.dataType).jsonValue()
            if f.name not in cur:
                cur[f.name] = {"id": next_id, "name": f.name, "type": j, "nullable": True}
                next_id += 1
                changed = True
            else:
                old = cur[f.name]["type"]
                if old != j:
                    # nested types (JSON dicts) only ever match exactly
                    atomic = isinstance(old, str) and isinstance(j, str)
                    if atomic and _WIDEN.get((old, j)):
                        cur[f.name]["type"] = j
                        changed = True
                    elif atomic and _WIDEN.get((j, old)):
                        pass  # incoming is narrower; current schema already covers it
                    else:
                        raise ValueError(f"incompatible type change for {f.name}: {old} -> {j}")
        ordered = sorted(cur.values(), key=lambda x: x["id"])
        return {"fields": ordered}, changed

    # ------------------------------------------------------------- read path
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        *,
        buckets: list[int] | None = None,
        include_internal: bool = False,
        stats_filter: dict | None = None,
    ) -> DataFrame:
        """Read a snapshot, aligning every file group to the snapshot schema
        (null-fill added columns, widen-cast old physical types). Default
        reads hide internal columns AND filter tombstone rows.

        ``stats_filter`` = {column: (lo, hi)} (inclusive; None = unbounded):
        files whose recorded footer min/max prove no row can match are
        skipped (secondary-column data skipping — the Iceberg per-file
        column-stats prune), and the exact residual filter is applied to the
        surviving rows. At lake scale a ``ts``-range or ``source`` predicate
        then opens only the files that can match instead of the bucket's
        whole history. The residual filter runs BEFORE internal columns are
        dropped, so a stats_filter on ``_seq`` (which IS recorded in the
        per-file stats) works under the default include_internal=False."""
        m = self.manifest(version)
        files = self.files(buckets=buckets, manifest=m)
        if stats_filter:
            files = self.files_for_stats(files, stats_filter)
        out = self._read_files(spark, m, files, include_internal=True)
        if stats_filter:
            out = _residual_filter(out, stats_filter)
        return out if include_internal else self._public_view(m, out)

    @staticmethod
    def empty_frame(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
        """An empty DataFrame of exactly ``schema`` (a ``StructType``, names,
        types and nullability kept, or a DDL string), planned as an empty
        ``LocalRelation`` built in the JVM: the optimizer folds it out of a
        union, and no task of it starts a Python worker.
        ``spark.createDataFrame([], schema)`` plans a Python-backed RDD leg
        instead, whose empty tasks each start one — engine code uses this
        helper for every empty relation."""
        jvm = spark._jvm
        types = jvm.org.apache.spark.sql.types
        jschema = (types.StructType.fromDDL(schema) if isinstance(schema, str)
                   else types.DataType.fromJson(schema.json()))
        jdf = spark._jsparkSession.createDataFrame(jvm.java.util.ArrayList(), jschema)
        return DataFrame(jdf, spark)

    @staticmethod
    def files_for_stats(files: list[dict], stats_filter: dict) -> list[dict]:
        """Drop files whose recorded per-column min/max exclude every value
        in the requested ranges. Conservative on every uncertainty: missing
        stats, type-mismatched bounds, and — crucially — any bucket that has
        DELTA files keeps ALL its files (pruning a base file there could
        resurrect a superseded row, since merge-on-read resolution needs the
        base row present to anti-join it away)."""
        delta_buckets = {f["bucket"] for f in files if f.get("kind") == "delta"}

        def keep(f: dict) -> bool:
            if f["bucket"] in delta_buckets:
                return True
            for col, (lo, hi) in stats_filter.items():
                s = f.get("stats", {}).get(col)
                if not s:
                    continue
                smin, smax = s
                if lo is not None and isinstance(lo, str) == isinstance(smax, str):
                    if smax < lo:
                        return False
                if hi is not None and isinstance(hi, str) == isinstance(smin, str):
                    if smin > hi:
                        return False
            return True

        return [f for f in files if keep(f)]

    def _union_aligned(
        self, spark: SparkSession, m: dict, files: list[dict], full: T.StructType
    ) -> DataFrame:
        """Union the given file entries, aligning each schema-id group onto
        ``full`` (null-fill added columns, widen-cast old physical types)."""
        if not files:
            return self.empty_frame(spark, full)
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(f["schema_id"], []).append(os.path.join(self.root, f["path"]))
        parts: list[DataFrame] = []
        for sid, paths in by_schema.items():
            file_schema = self._schema_struct(m, sid, include_internal=True)
            df = spark.read.schema(file_schema).parquet(*paths)
            parts.append(align_to_schema(df, full))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_files(
        self, spark: SparkSession, m: dict, files: list[dict], *, include_internal: bool
    ) -> DataFrame:
        """Merge-on-read resolution: ``kind == "delta"`` entries hold upsert/
        tombstone rows written WITHOUT rewriting their bucket's base files
        (Iceberg v2 delete-file analog, upsert-flavored). A key's newest delta
        row (max ``_seq`` — the apply path's stale filter guarantees deltas
        strictly supersede base and each other) wins over any base row via a
        LEFT ANTI join on the delta key set; at lake scale the delta side is
        the small dribble batch, so AQE broadcasts it and base rows stream
        through unshuffled. Buckets with no deltas read exactly as before
        (compaction folds deltas back into base files)."""
        full = self._schema_struct(m, m["schema_id"], include_internal=True)
        user = self._schema_struct(m, m["schema_id"], include_internal=False)
        if not files:
            return self.empty_frame(spark, full if include_internal else user)
        base = [f for f in files if f.get("kind") != "delta"]
        deltas = [f for f in files if f.get("kind") == "delta"]
        out = self._union_aligned(spark, m, base, full)
        if deltas:
            key = m.get("key_col", "doc_id")
            d = self._union_aligned(spark, m, deltas, full)
            others = [f.name for f in full.fields if f.name not in (key, "_seq")]
            latest = (
                d.groupBy(key)
                .agg(F.max(F.struct(F.col("_seq"), *[F.col(c) for c in others])).alias("_w"))
                .select(key, "_w.*")
                .select([f.name for f in full.fields])
            )
            out = out.join(latest.select(key), key, "left_anti").unionByName(latest)
        if include_internal:
            return out
        return self._public_view(m, out)

    def row_images(
        self, spark: SparkSession, from_version: int, to_version: int, *,
        cols: list[str], buckets: list[int] | None = None,
    ) -> DataFrame:
        """``differ.row_images`` of two snapshots in ``buckets`` (None: all),
        from ONE read of their files — THE table diff. A file both snapshots
        hold is scanned once (Iceberg's changelog scan): each file group is
        tagged (in the old set? in the new set? delta?) and aligned to
        ``to_version``'s schema (a column added in between reads as null on
        the old side), and one ``groupBy(key)`` takes each side's newest row
        (delta before base, then ``_seq``: ``_read_files``' resolution) in
        one exchange. A key whose winner is a tombstone is absent there."""
        from recidiviz_data_spark.cdc.differ import moved

        ms = [self.manifest(from_version), self.manifest(to_version)]
        key = ms[1]["key_col"]
        full = self._schema_struct(ms[1], ms[1]["schema_id"], include_internal=True)
        tagged: dict[str, tuple[dict, list[bool]]] = {}
        for side, m in enumerate(ms):
            for f in self.files(buckets=buckets, manifest=m):
                tagged.setdefault(f["path"], (f, [False, False]))[1][side] = True
        groups: dict[tuple, list[dict]] = {}
        for f, (in_old, in_new) in tagged.values():
            groups.setdefault((in_old, in_new, f.get("kind") == "delta"), []).append(f)
        # a file only the old snapshot holds is described by its schemas
        rows = functools.reduce(DataFrame.unionByName, [
            self._union_aligned(spark, ms[tag[1]], fs, full).select(
                "*", *[F.lit(b).alias(t) for t, b in zip(("_f_old", "_f_new", "_f_delta"), tag)])
            for tag, fs in (groups or {(False, False, False): []}).items()
        ])
        row = F.struct("_f_delta", "_seq", F.coalesce(F.col("_deleted"), F.lit(False)).alias("_dead"),
                       *[c for c in cols if c != key])
        live = {s: F.when(~F.col(f"_{s}._dead"), True) for s in ("old", "new")}

        def val(s: str, c: str):
            return F.when(live[s], F.col(key) if c == key else F.col(f"_{s}.{c}"))

        return rows.groupBy(key).agg(*[
            F.max(F.when(F.col(f"_f_{s}"), row)).alias(f"_{s}") for s in ("old", "new")
        ]).select(
            key, live["old"].alias("_in_old"), *[val("old", c).alias(f"_o_{c}") for c in cols],
            live["new"].alias("_in_new"), *[val("new", c).alias(c) for c in cols if c != key],
        ).filter(F.coalesce("_in_old", "_in_new").isNotNull() & moved(cols))

    def _public_view(self, m: dict, out: DataFrame) -> DataFrame:
        """Internal-resolved rows -> the user-facing view: drop tombstones,
        project away internal columns. THE single drop rule (read /
        read_keys / _read_files share it so residual stats filters can run
        on internal columns first)."""
        user = self._schema_struct(m, m["schema_id"], include_internal=False)
        if "_deleted" in out.columns:
            out = out.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return out.select([f.name for f in user.fields])

    # --------------------------------------------------- point-lookup path
    @staticmethod
    def files_for_keys(files: list[dict], keys: list) -> list[dict]:
        """Data skipping: drop files whose footer key-range (recorded at
        write time in the manifest entry) cannot contain ANY of the keys.
        Files without recorded stats are conservatively kept. A key whose
        Python type does not match the recorded stat type (str key on an int
        key column or vice versa) raises a clear error instead of a
        TypeError mid-comparison. Keys are sorted once and each file's range
        is tested by bisection — O(F log K), so a mega-batch key list does
        not turn metadata pruning into an F×K scan."""
        import bisect

        if keys and any(isinstance(k, str) != isinstance(keys[0], str) for k in keys):
            raise ValueError("read_keys requires keys of one type (str or numeric)")
        skeys = sorted(keys)

        def may_contain(f: dict) -> bool:
            if "key_min" not in f:
                return True
            kmin = f["key_min"]
            if skeys and isinstance(skeys[0], str) != isinstance(kmin, str):
                raise ValueError(
                    f"key {skeys[0]!r} ({type(skeys[0]).__name__}) does not "
                    f"match the key column's recorded stats type "
                    f"({type(kmin).__name__})"
                )
            i = bisect.bisect_left(skeys, kmin)  # first key >= key_min
            return i < len(skeys) and skeys[i] <= f["key_max"]

        return [f for f in files if may_contain(f)]

    def read_keys(
        self,
        spark: SparkSession,
        keys: list,
        version: int | None = None,
        *,
        include_internal: bool = False,
        stats_filter: dict | None = None,
    ) -> DataFrame:
        """Point/multi-key lookup with two-stage FILE skipping: hash the
        keys to their buckets (reads only those buckets' sidecars), then
        drop files whose key-range stats exclude every key, then filter
        exactly. At lake scale a point lookup touches one bucket's sidecar
        and, on a batch-appended table, only the files whose key range
        covers the key — not the bucket's whole history.

        The bucket hash runs on the driver (``key_bucket``, the same
        ``pmod(xxhash64(key), num_buckets)`` the writers bucket by), for any
        number of keys: planning the lookup starts no Spark job. Key columns
        of a type ``key_bucket`` cannot hash raise ``ValueError``.

        The exact filter adapts to the list size: up to
        ``READ_KEYS_ISIN_MAX`` keys it is an ``isin`` literal (pushed into
        the parquet scan as an In filter); past it, a broadcast LEFT SEMI
        join against the key DataFrame — an isin with 10^5+ literals bloats
        the plan and the task binary, while the semi-join ships one hashed
        build side (file skipping has already pruned the scan either way)."""
        if not keys:
            raise ValueError("read_keys requires at least one key")
        m = self.manifest(version)
        key_col = m["key_col"]
        key_field = [
            f for f in self._schema_struct(m, m["schema_id"]).fields if f.name == key_col
        ][0]
        buckets = sorted(
            {self.key_bucket(k, key_field.dataType, m["num_buckets"]) for k in keys}
        )
        files = self.files_for_keys(self.files(buckets=buckets, manifest=m), keys)
        if stats_filter:
            # secondary-predicate pruning composes with key skipping (the
            # delta-bucket conservatism in files_for_stats still applies)
            files = self.files_for_stats(files, stats_filter)
        out = self._read_files(spark, m, files, include_internal=True)
        if len(keys) <= READ_KEYS_ISIN_MAX:
            out = out.filter(F.col(key_col).isin(keys))
        else:
            kdf = spark.createDataFrame([(k,) for k in keys], T.StructType([key_field]))
            out = out.join(F.broadcast(kdf.distinct()), key_col, "left_semi")
        if stats_filter:
            out = _residual_filter(out, stats_filter)
        return out if include_internal else self._public_view(m, out)

    def data_files(self, version: int | None = None, buckets: list[int] | None = None) -> list[str]:
        fs = self.files(version, buckets=buckets)
        return [os.path.join(self.root, f["path"]) for f in fs]

    # ------------------------------------------------------------- write path
    def write_staged(
        self,
        df: DataFrame,
        schema_id: int,
        *,
        bloom_ndv: int | None = None,
        max_records_per_file: int | None = None,
    ) -> list[dict]:
        """Write ``df`` (it carries ``_bucket``) as ``_bucket``-partitioned
        parquet into a fresh staging dir and return the staged files' entries
        (``collect_staged_files``) for a commit: every table writer's one
        write. ``bloom_ndv`` adds a parquet bloom filter on the key column,
        sized for that many distinct keys per file; ``max_records_per_file``
        caps the rows of each output file."""
        writer = df.write
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if bloom_ndv:
            key_col = self.manifest()["key_col"]
            writer = writer.option(
                "parquet.bloom.filter.enabled#" + key_col, "true"
            ).option("parquet.bloom.filter.expected.ndv#" + key_col, str(bloom_ndv))
        staging = self.staging_dir()
        writer.partitionBy("_bucket").parquet(staging)
        return self.collect_staged_files(staging, schema_id)

    def staging_dir(self) -> str:
        os.makedirs(os.path.join(self.root, "tmp"), exist_ok=True)
        return os.path.join(self.root, "tmp", f"stage-{uuid.uuid4().hex}")

    def collect_staged_files(self, staging_dir: str, schema_id: int) -> list[dict]:
        """Move ``staging/_bucket=N/part-*.parquet`` into data/, return file
        entries (bucket parsed from the partition dir, rows + key-range
        stats from the footer already being read — no extra I/O)."""
        m = self.manifest()
        key_col = m.get("key_col", "doc_id")
        entries = []
        for path in sorted(glob.glob(os.path.join(staging_dir, "_bucket=*", "*.parquet"))):
            bucket = int(os.path.basename(os.path.dirname(path)).split("=")[1])
            meta = pq.ParquetFile(path).metadata
            name = f"{uuid.uuid4().hex}-b{bucket:05d}.parquet"
            dest_rel = os.path.join("data", name)
            os.rename(path, os.path.join(self.root, dest_rel))
            entry = {
                "path": dest_rel,
                "bucket": bucket,
                "rows": meta.num_rows,
                "bytes": os.path.getsize(os.path.join(self.root, dest_rel)),
                "schema_id": schema_id,
            }
            ranges = _footer_col_ranges(meta)
            if key_col in ranges:
                entry["key_min"], entry["key_max"] = ranges[key_col]
            # per-column stats: min/max for every scalar str/int leaf
            # (source, n_tok, _seq, and the key again for uniform access) —
            # free, the footer is already parsed; read(stats_filter=...)
            # prunes files on them
            if ranges:
                entry["stats"] = {c: list(r) for c, r in ranges.items()}
            entries.append(entry)
        shutil.rmtree(staging_dir, ignore_errors=True)
        return entries

    def commit(
        self,
        *,
        added_files: list[dict],
        replaced_buckets: set[int] | None = None,
        schema_fields: dict | None = None,
        last_applied_batch: int | None = None,
        lineage_rows: list[dict] | None = None,
        expected_parent: int | None = None,
        props: dict | None = None,
        props_fn=None,
        num_buckets: int | None = None,
        rebase_retries: int = 3,
        bucket_keys: dict[int, int] | None = None,
    ) -> int:
        """Create snapshot N+1: carry over buckets outside
        ``replaced_buckets`` (their sidecars are re-referenced verbatim — an
        O(buckets) commit that never parses the full file list), add
        ``added_files`` as fresh per-bucket sidecars. Atomic; raises
        CommitConflict if raced.

        DISJOINT-BUCKET REBASE (Iceberg's optimistic-concurrency retry): when
        a racing writer wins the CAS but touched only buckets disjoint from
        ours — and neither schema, bucket count, nor the batch watermark
        conflicts — the commit automatically re-reads the new parent and
        retries (up to ``rebase_retries``), so partitioned writers ingesting
        disjoint key ranges never replay their whole apply. Any overlap or
        watermark/schema movement still raises, because the caller's
        decisions were computed against state that actually changed.
        Callers that need STRICT CAS (no rebase even for disjoint buckets)
        pass ``rebase_retries=0``.

        ``props_fn(version) -> dict`` computes props from the version this
        commit ACTUALLY lands at — use it for version-stamped props (e.g.
        ``last_compaction_version``) that a rebase would otherwise make
        stale. Merged on top of ``props``.

        ``num_buckets`` re-declares the table's bucket function atomically with
        this commit (bucket-split maintenance): EVERY pre-existing bucket must
        be in ``replaced_buckets`` — a manifest may never mix bucket functions.

        Every bucket this commit writes is stamped with its exact LOGICAL
        key count (``keys``: distinct doc_ids incl. tombstones): the
        caller's ``bucket_keys[bucket]``, else the rows of its entries when
        all are base files (base files hold one row per key). A bucket with
        merge-on-read deltas must be stamped by its writer (apply:
        keys_before + brand-new winners): a commit adding an unstamped delta
        entry raises ``ValueError`` before any blob is written. Untouched
        buckets carry their stamp verbatim."""
        if any(f.get("kind") == "delta" and f["bucket"] not in (bucket_keys or {})
               for f in added_files):
            raise ValueError("a commit adding delta entries must stamp their buckets")
        parent_v = self.current_version() if expected_parent is None else expected_parent
        our_buckets = set(replaced_buckets or set()) | {f["bucket"] for f in added_files}
        for _ in range(max(rebase_retries, 0) + 1):
            try:
                return self._commit_once(
                    parent_v,
                    added_files=added_files,
                    replaced_buckets=replaced_buckets,
                    schema_fields=schema_fields,
                    last_applied_batch=last_applied_batch,
                    lineage_rows=lineage_rows,
                    props=props,
                    props_fn=props_fn,
                    num_buckets=num_buckets,
                    bucket_keys=bucket_keys,
                )
            except CommitConflict:
                new_parent = self._rebase_parent(
                    parent_v, our_buckets, last_applied_batch, num_buckets
                )
                if new_parent is None:
                    raise
                parent_v = new_parent
        raise CommitConflict(f"could not commit after {rebase_retries} rebases")

    def _rebase_parent(
        self,
        parent_v: int,
        our_buckets: set[int],
        last_applied_batch: int | None,
        num_buckets: int | None,
    ) -> int | None:
        """The rebase admissibility check: None = the conflict is real
        (overlapping buckets / schema or bucket-function change / watermark
        already advanced past ours), else the new parent version to retry
        against. Loads only the ranges the racing commit rewrote."""
        try:
            cur_v = self.current_version()
        except FileNotFoundError:
            return None
        if cur_v <= parent_v:
            return None  # not a parent race (e.g. a watermark conflict)
        old_m, cur_m = self.manifest(parent_v), self.manifest(cur_v)
        if (
            cur_m["schema_id"] != old_m["schema_id"]
            or cur_m["num_buckets"] != old_m["num_buckets"]
            or num_buckets is not None
        ):
            return None
        if (
            last_applied_batch is not None
            and cur_m["last_applied_batch"] >= last_applied_batch
        ):
            return None
        if self._changed_bucket_set(old_m, cur_m) & our_buckets:
            return None
        return cur_v

    def _commit_once(
        self,
        parent_v: int,
        *,
        added_files: list[dict],
        replaced_buckets: set[int] | None,
        schema_fields: dict | None,
        last_applied_batch: int | None,
        lineage_rows: list[dict] | None,
        props: dict | None,
        num_buckets: int | None,
        props_fn=None,
        bucket_keys: dict[int, int] | None = None,
    ) -> int:
        if self.current_version() != parent_v:
            raise CommitConflict(f"parent moved: != {parent_v}")
        m = self.manifest(parent_v)
        new = dict(m)
        new["version"] = parent_v + 1
        new["parent"] = parent_v
        replaced = replaced_buckets or set()
        written_blobs: dict[str, str] = {}
        added_by_bucket: dict[str, list[dict]] = {}
        for f in added_files:
            added_by_bucket.setdefault(str(f["bucket"]), []).append(f)
        keys = {str(b): k for b, k in (bucket_keys or {}).items()}
        if num_buckets is not None and num_buckets != m["num_buckets"]:
            # a manifest may never mix bucket functions: EVERY pre-existing
            # bucket must be replaced in the same commit, so the new map is
            # the added buckets alone
            leftover = [bk for bk in self._bucket_map(m) if int(bk) not in replaced]
            if leftover:
                raise CommitConflict(
                    "num_buckets change requires replacing every existing "
                    f"bucket in the same commit ({len(leftover)} buckets carried)"
                )
            new["bucket_ranges"] = self._ranges_from_summaries(
                {
                    bk: self._bucket_summary(entries, written_blobs, keys.get(bk))
                    for bk, entries in added_by_bucket.items()
                },
                num_buckets, written_blobs,
            )
        else:
            new["bucket_ranges"] = self._commit_ranges(
                m, replaced, added_by_bucket, written_blobs, keys
            )
        if schema_fields is not None:
            old_fields = m["schemas"][str(m["schema_id"])]["fields"]
            if schema_fields["fields"] != old_fields:
                # max(ids)+1, NOT schema_id+1: after a rollback the current
                # schema_id can be lower than ids already allocated, and a
                # historical id must never be redefined (files reference it)
                new_sid = max(int(k) for k in m["schemas"]) + 1
                new["schemas"] = dict(m["schemas"])
                new["schemas"][str(new_sid)] = schema_fields
                new["schema_id"] = new_sid
        if last_applied_batch is not None:
            if last_applied_batch <= m["last_applied_batch"]:
                raise CommitConflict(
                    f"batch {last_applied_batch} already applied "
                    f"(watermark={m['last_applied_batch']})"
                )
            new["last_applied_batch"] = last_applied_batch
        if props or props_fn:
            late = props_fn(new["version"]) if props_fn else {}
            new["props"] = {**m.get("props", {}), **(props or {}), **late}
        if num_buckets is not None and num_buckets != m["num_buckets"]:
            new["num_buckets"] = num_buckets
            new["bucket_expr"] = BUCKET_SQL.format(key=m["key_col"], n=num_buckets)
        self._write_manifest(new["version"], new)
        self._restore_blobs(written_blobs)
        if lineage_rows:
            lid = last_applied_batch if last_applied_batch is not None else new["version"]
            with open(os.path.join(self.lineage_dir, f"batch-{lid}.json"), "w") as f:
                json.dump(lineage_rows, f, indent=1)
        return new["version"]

    def _commit_ranges(
        self,
        m: dict,
        replaced: set[int],
        added_by_bucket: dict[str, list[dict]],
        written_blobs: dict[str, str],
        keys: dict[str, int],
    ) -> dict:
        """The new ``bucket_ranges`` block of a commit that keeps the bucket
        function: untouched range manifests are carried verbatim, and only
        ranges holding a replaced or added bucket are loaded and rewritten
        (the commit round-trips a ~sqrt(B)-entry root plus those ranges)."""
        size = m["bucket_ranges"]["size"]
        old_ranges = m["bucket_ranges"]["ranges"]
        touched: dict[str, dict[str, list[dict]]] = {}  # lo -> added buckets
        for b in replaced:
            touched.setdefault(self._range_lo(b, size), {})
        for bk, entries in added_by_bucket.items():
            touched.setdefault(self._range_lo(int(bk), size), {})[bk] = entries
        new_ranges = {lo: rs for lo, rs in old_ranges.items() if lo not in touched}
        for lo, added in sorted(touched.items(), key=lambda kv: int(kv[0])):
            rmap = {
                bk: s for bk, s in self._bucket_map(m, [lo]).items()
                if int(bk) not in replaced
            }
            for bk, entries in added.items():
                if bk in rmap:  # append into a carried bucket (delta path)
                    entries = self._load_blob(rmap[bk]["path"]) + entries
                rmap[bk] = self._bucket_summary(entries, written_blobs, keys.get(bk))
            if rmap:
                new_ranges[lo] = self._range_summary(rmap, written_blobs)
        return {"size": size, "ranges": new_ranges}

    def rollback(self, to_version: int) -> int:
        """Restore an earlier snapshot's contents as a NEW version (Iceberg's
        rollback semantics: history is never rewritten — the rollback is one
        more commit whose root re-references the old version's range
        manifests, an O(ranges) metadata operation that moves zero data
        bytes).

        ``last_applied_batch`` reverts too, so re-tailing the changelog
        replays everything after the restored watermark (the time-travel +
        reprocess workflow). Raced writers CAS-conflict as usual."""
        parent_v = self.current_version()
        old = self.manifest(to_version)
        cur = self.manifest(parent_v)
        new = dict(cur)
        new["version"] = parent_v + 1
        new["parent"] = parent_v
        # range manifests are content-addressed + immutable: the restored
        # snapshot re-references them verbatim (O(ranges) metadata)
        new["bucket_ranges"] = old["bucket_ranges"]
        # restored state must be read under the schema it was written with
        new["schema_id"] = old["schema_id"]
        new["num_buckets"] = old["num_buckets"]
        new["bucket_expr"] = old["bucket_expr"]
        new["last_applied_batch"] = old["last_applied_batch"]
        new["props"] = {**cur.get("props", {}), "rolled_back_from": parent_v,
                        "rolled_back_to": to_version}
        self._write_manifest(new["version"], new)
        return new["version"]

    # ----------------------------------------------------------------- tags
    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under an immutable name (Iceberg tag): the tagged
        version survives ``expire_snapshots`` until untagged, and
        ``read(version=table.ref(name))`` time-travels to it by name. Tags
        are create-once (O_EXCL — racing taggers: one wins, the rest raise);
        re-pointing a name means untag + tag."""
        if not _BRANCH_NAME_RE.match(name):
            raise ValueError(f"invalid tag name: {name!r}")
        v = self.current_version() if version is None else version
        self.manifest(v)  # raises for a nonexistent version
        d = os.path.join(self.meta_dir, "tags")
        os.makedirs(d, exist_ok=True)
        try:
            with open(os.path.join(d, f"{name}.json"), "x") as f:
                json.dump({"version": v}, f)
        except FileExistsError as e:
            raise CommitConflict(f"tag {name!r} already exists") from e
        return v

    def tags(self) -> dict[str, int]:
        d = os.path.join(self.meta_dir, "tags")
        out: dict[str, int] = {}
        for p in glob.glob(os.path.join(d, "*.json")):
            try:
                with open(p) as f:
                    out[os.path.basename(p)[:-5]] = json.load(f)["version"]
            except (OSError, ValueError, KeyError):
                continue  # racing untag / partial write: skip
        return out

    def ref(self, name: str) -> int:
        """Resolve a tag name to its pinned snapshot version."""
        t = self.tags()
        if name not in t:
            raise FileNotFoundError(f"no tag {name!r} on {self.root}")
        return t[name]

    def untag(self, name: str) -> None:
        try:
            os.unlink(os.path.join(self.meta_dir, "tags", f"{name}.json"))
        except FileNotFoundError:
            pass

    # ------------------------------------------------------------- branches
    def create_branch(self, name: str, from_version: int | None = None) -> "Miniberg":
        """Fork an isolated manifest chain at a snapshot (Iceberg's branch;
        the staging surface for write-audit-publish). O(1) metadata: the
        branch's first manifest re-references the fork snapshot's sidecars
        verbatim — zero data bytes move. Returns the branch handle; commit
        to it like any table. Two racing creators of the same name: one
        wins the CAS, the other gets CommitConflict."""
        if self.branch is not None:
            raise ValueError("branches fork from main, not from a branch")
        if not _BRANCH_NAME_RE.match(name):
            raise ValueError(f"invalid branch name: {name!r}")
        v = self.current_version() if from_version is None else from_version
        b = Miniberg(self.root, branch=name)
        if glob.glob(os.path.join(b.meta_dir, "v*.json")):
            raise CommitConflict(f"branch {name!r} already exists")
        os.makedirs(b.lineage_dir, exist_ok=True)
        m = dict(self.manifest(v))
        m["branch"] = name
        m["fork_version"] = v
        b._write_manifest(v, m)
        return b

    def branch_handle(self, name: str) -> "Miniberg":
        b = Miniberg(self.root, branch=name)
        b.current_version()  # raises FileNotFoundError for an unknown branch
        return b

    def branches(self) -> list[str]:
        d = os.path.join(self.root, "meta", "branches")
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d)
            if glob.glob(os.path.join(d, n, "v*.json"))
        )

    def drop_branch(self, name: str) -> None:
        """Delete a branch's manifest chain. Data files only it referenced
        become orphans and are reclaimed by ``gc_orphans`` after the grace
        window — the abandon half of write-audit-publish."""
        d = os.path.join(self.root, "meta", "branches", name)
        shutil.rmtree(d, ignore_errors=True)

    def publish_branch(self, name: str, *, drop: bool = True,
                       rebase_retries: int = 3) -> int:
        """Merge a branch's state into main as ONE atomic commit — the
        publish half of write-audit-publish. O(buckets) metadata: buckets
        the branch touched (vs its fork snapshot) adopt the branch's sidecar
        references verbatim; everything else carries from main's CURRENT
        head, so main commits that landed since the fork on DISJOINT buckets
        merge cleanly (same admissibility rule as commit()'s rebase). Real
        conflicts raise CommitConflict: overlapping bucket rewrites,
        both sides evolving schema, both sides advancing the changelog
        watermark, or a bucket-function change racing any main movement.

        Readers never see an intermediate state: the merge is a single
        manifest CAS. Branch lineage rows merge into main's log. ``drop``
        deletes the branch after publishing (its manifests are superseded;
        its data files are now pinned by main)."""
        b = self.branch_handle(name)
        bv = b.current_version()
        bm = b.manifest(bv)
        fork = bm.get("fork_version")
        if fork is None:
            raise CommitConflict(f"branch {name!r} has no fork point recorded")
        if bv == fork:
            if drop:
                self.drop_branch(name)
            return self.current_version()  # nothing committed on the branch
        fm = self.manifest(fork)
        b_touched = self._changed_bucket_set(bm, fm)
        b_sum = dict(self._iter_bucket_summaries(bm, b_touched))
        branch_schema = bm["schema_id"] != fm["schema_id"]
        branch_fn = bm["num_buckets"] != fm["num_buckets"]
        branch_wm = bm["last_applied_batch"] != fm["last_applied_batch"]
        for _ in range(max(rebase_retries, 0) + 1):
            hv = self.current_version()
            hm = self.manifest(hv)
            if hv != fork:
                if branch_fn or hm["num_buckets"] != fm["num_buckets"]:
                    raise CommitConflict(
                        "bucket-function change cannot merge past a moved main"
                    )
                if branch_schema and hm["schema_id"] != fm["schema_id"]:
                    raise CommitConflict(
                        "both main and branch evolved the schema since the fork"
                    )
                if branch_wm and hm["last_applied_batch"] != fm["last_applied_batch"]:
                    raise CommitConflict(
                        "both main and branch advanced the changelog watermark "
                        "since the fork"
                    )
                both = b_touched & self._changed_bucket_set(hm, fm)
                if both:
                    raise CommitConflict(
                        f"branch {name!r} and main both rewrote buckets "
                        f"{sorted(both)[:8]}"
                    )
            merged = self._bucket_map(hm)
            for bk in map(str, b_touched):
                if bk in b_sum:
                    merged[bk] = b_sum[bk]
                else:
                    merged.pop(bk, None)
            new = dict(hm)
            new["version"] = hv + 1
            new["parent"] = hv
            if branch_schema:
                new["schemas"] = bm["schemas"]
                new["schema_id"] = bm["schema_id"]
            if branch_fn:
                new["num_buckets"] = bm["num_buckets"]
                new["bucket_expr"] = bm["bucket_expr"]
            if branch_wm:
                new["last_applied_batch"] = max(
                    bm["last_applied_batch"], hm["last_applied_batch"]
                )
            new["props"] = {
                **hm.get("props", {}),
                # branch prop CHANGES win (a carried prop stays main's)
                **{k: v for k, v in bm.get("props", {}).items()
                   if fm.get("props", {}).get(k) != v},
                "published_branch": name,
                "published_fork_version": fork,
            }
            new.pop("branch", None)
            new.pop("fork_version", None)
            written_blobs: dict[str, str] = {}
            new["bucket_ranges"] = self._ranges_from_summaries(
                merged, new["num_buckets"], written_blobs
            )
            try:
                self._write_manifest(new["version"], new)
            except CommitConflict:
                continue  # main moved: re-read the head and re-merge
            self._restore_blobs(written_blobs)
            for p in glob.glob(os.path.join(b.lineage_dir, "batch-*.json")):
                dst = os.path.join(self.lineage_dir, os.path.basename(p))
                if not os.path.exists(dst):
                    shutil.copyfile(p, dst)
            if drop:
                self.drop_branch(name)
            return new["version"]
        raise CommitConflict(
            f"could not publish branch {name!r} after {rebase_retries} rebases"
        )

    def changed_buckets(self, from_version: int, to_version: int) -> list[int] | None:
        """Buckets whose FILE SETS differ between two snapshots — pure
        metadata (sidecar-path comparison, no data read). Only ranges whose
        content hash differs are loaded, so the diff is O(ranges + changed
        buckets). Returns None when bucket identity is not comparable (the
        bucket function changed between the versions) — i.e. "treat every
        bucket as changed".

        This is the prune ``table_changes`` feeds on: rows in a bucket whose
        file set is identical in both snapshots cannot differ, so a CDF read
        over a small commit (a WAP audit delta, an index sync) reads only the
        touched buckets instead of two full snapshots."""
        fm_ = self.manifest(from_version)
        tm_ = self.manifest(to_version)
        if fm_["num_buckets"] != tm_["num_buckets"]:
            return None  # bucket function changed: no stable bucket identity
        return sorted(self._changed_bucket_set(fm_, tm_))

    def table_changes(
        self, spark: SparkSession, from_version: int, to_version: int,
        *, snapshot_seq: int | None = None, buckets: list[int] | None = None,
    ) -> DataFrame:
        """Change-data-feed read: the I/U/D events that turn snapshot
        ``from_version`` into ``to_version`` (Delta's table_changes /
        Iceberg's changelog scan), the one-read ``row_images`` over every
        user column of ``to_version`` — ``differ ∘ apply = identity`` is the
        tested contract.

        ``buckets`` restricts the scan — pass ``changed_buckets(from_version,
        to_version)`` to read only buckets whose file sets moved (identical
        buckets yield no events by definition); at lake scale that turns the
        delta of a small commit from a table scan into a few bucket reads."""
        from recidiviz_data_spark.cdc.differ import image_events

        key = self.manifest(to_version)["key_col"]
        payload = [c for c in self.spark_schema(to_version, include_internal=False).fieldNames()
                   if c != key]
        return image_events(
            self.row_images(spark, from_version, to_version, cols=payload, buckets=buckets),
            key=key, payload_cols=payload,
            snapshot_seq=to_version if snapshot_seq is None else snapshot_seq,
        )

    # ------------------------------------------------------------- utilities
    def bucket_col(self) -> F.Column:
        m = self.manifest()
        return self.bucket_expr(m["key_col"], m["num_buckets"])

    @staticmethod
    def bucket_expr(key_col: str, num_buckets: int) -> F.Column:
        """The bucket of each row as a Spark column: ``BUCKET_SQL``, the one
        bucket function every writer, reader and manifest uses."""
        return F.expr(BUCKET_SQL.format(key=key_col, n=num_buckets)).cast("int")

    @staticmethod
    def key_bucket(key, data_type: T.DataType, num_buckets: int) -> int:
        """``pmod(xxhash64(key), num_buckets)`` computed on the driver: the
        bucket ``bucket_expr`` gives a key of ``data_type``, with no Spark job.
        Hashes the bytes Spark's ``XxHash64`` hashes for the type: UTF-8 for
        strings, 4 little-endian bytes for byte/short/int/date, 8 for
        long/timestamp (the value's internal form, as ``createDataFrame``
        converts it). Any other key type, or a key that does not fit its
        type, raises ``ValueError``."""
        if isinstance(data_type, T.StringType):
            fmt = None
        elif isinstance(data_type, (T.ByteType, T.ShortType, T.IntegerType, T.DateType)):
            fmt = "<i"
        elif isinstance(data_type, (T.LongType, T.TimestampType)):
            fmt = "<q"
        else:
            raise ValueError(
                f"no driver-side bucket hash for key type {data_type.simpleString()}"
            )
        try:
            data = (key.encode("utf-8") if fmt is None
                    else struct.pack(fmt, data_type.toInternal(key)))
        except (AttributeError, TypeError, struct.error) as e:
            raise ValueError(
                f"key {key!r} does not fit key type {data_type.simpleString()}"
            ) from e
        return _xxh64(data) % num_buckets

    def lineage(self) -> list[dict]:
        rows: list[dict] = []
        for p in sorted(glob.glob(os.path.join(self.lineage_dir, "batch-*.json"))):
            with open(p) as f:
                rows.extend(json.load(f))
        return rows

    def gc_orphans(self, *, grace_seconds: float = 3600.0) -> list[str]:
        """Delete data files not referenced by ANY existing snapshot + stale
        staging (expired snapshots no longer pin their files).

        ``grace_seconds``: files/staging dirs younger than this are SKIPPED —
        a concurrent writer moves staged files into data/ (collect_staged_
        files) BEFORE its manifest CAS, so a just-written unreferenced file
        may belong to an in-flight commit. The grace window makes GC safe to
        run alongside writers; pass 0 only when no writer can be in flight.

        Runs from the MAIN handle only: data/ and meta/fm/ are shared with
        every branch, and a branch handle's own chain pins neither main's
        files nor its siblings' — collecting references from it would
        silently delete live data (raises instead)."""
        import time as _time

        if self.branch is not None:
            raise ValueError(
                "gc_orphans must run from the main handle: a branch's chain "
                "does not pin main's or sibling branches' files in the "
                "shared data/ and meta/fm/ dirs"
            )
        referenced, referenced_sidecars = collect_references(self, self.versions())
        for name in (self.branches() if self.branch is None else []):
            # live branches pin their files/sidecars exactly like snapshots
            bt = Miniberg(self.root, branch=name)
            bf, bs = collect_references(bt, bt.versions())
            referenced |= bf
            referenced_sidecars |= bs
        now = _time.time()
        removed = gc_unreferenced(
            os.path.join(self.data_dir, "*.parquet"), referenced, grace_seconds, now
        )
        # orphaned sidecars (written by a commit whose CAS lost, or left by
        # expired snapshots) — same grace rule as data files
        removed += gc_unreferenced(
            os.path.join(self.fm_dir, "*.json"), referenced_sidecars, grace_seconds, now
        )
        for d in glob.glob(os.path.join(self.root, "tmp", "stage-*")):
            try:
                young = now - os.path.getmtime(d) < grace_seconds
            except OSError:
                continue  # racing writer already moved/removed it
            if not young:
                shutil.rmtree(d, ignore_errors=True)
        return removed


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _XXH_P2) & _U64, 31) * _XXH_P1 & _U64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int: Spark's ``xxhash64`` (seed
    42) of a value whose hashed bytes are ``data``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _XXH_P1 + _XXH_P2) & _U64, (seed + _XXH_P2) & _U64, seed,
             (seed - _XXH_P1) & _U64]
        while i + 32 <= n:
            for j, lane in enumerate(struct.unpack_from("<4Q", data, i)):
                v[j] = _xxh_round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _U64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _XXH_P1 + _XXH_P4) & _U64
    else:
        h = (seed + _XXH_P5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _xxh_round(0, lane), 27) * _XXH_P1 + _XXH_P4) & _U64
        i += 8
    if i + 4 <= n:
        (word,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (word * _XXH_P1 & _U64), 23) * _XXH_P2 + _XXH_P3) & _U64
        i += 4
    for byte in data[i:]:
        h = _rotl(h ^ (byte * _XXH_P5 & _U64), 11) * _XXH_P1 & _U64
    h = (h ^ (h >> 33)) * _XXH_P2 & _U64
    h = (h ^ (h >> 29)) * _XXH_P3 & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _residual_filter(out: DataFrame, stats_filter: dict) -> DataFrame:
    """Apply the exact {col: (lo, hi)} range predicate a stats-based file
    prune was derived from (file skipping is necessary-not-sufficient)."""
    for col, (lo, hi) in stats_filter.items():
        if lo is not None:
            out = out.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(col) <= F.lit(hi))
    return out


def collect_references(table: "Miniberg", versions: list[int]) -> tuple[set, set]:
    """(data-file paths, sidecar paths) referenced by ``versions``,
    tolerating versions EXPIRED by a concurrent maintenance run (their
    manifest/sidecars vanish mid-scan — nothing of theirs needs keeping).
    A sidecar missing while its manifest still exists is real corruption
    and raises: GC'ing with an incomplete keep-set could delete live data."""
    keep_files: set = set()
    keep_sidecars: set = set()
    for v in versions:
        try:
            m = table.manifest(v)
            for rs in m["bucket_ranges"]["ranges"].values():
                # keep the range manifest, its sidecars and their data files
                # (range manifests and sidecars both live under meta/fm/)
                keep_sidecars.add(os.path.join(table.root, rs["path"]))
                for s in table._load_blob(rs["path"]).values():
                    keep_sidecars.add(os.path.join(table.root, s["path"]))
                    keep_files.update(
                        os.path.join(table.root, f["path"])
                        for f in table._load_blob(s["path"])
                    )
        except FileNotFoundError:
            if os.path.exists(table._vpath(v)):
                raise
            continue  # version expired concurrently
    return keep_files, keep_sidecars


def gc_unreferenced(
    pattern: str, keep: set, grace_seconds: float, now: float
) -> list[str]:
    """Unlink files matching ``pattern`` that are not in ``keep`` and are
    older than the grace window — THE single glob+grace+unlink rule shared
    by gc_orphans and expire_snapshots (OSError = a concurrent GC won)."""
    removed: list[str] = []
    for p in glob.glob(pattern):
        if p in keep:
            continue
        try:
            if now - os.path.getmtime(p) >= grace_seconds:
                os.unlink(p)
                removed.append(p)
        except OSError:
            continue
    return removed


def _footer_col_ranges(meta) -> dict[str, tuple]:
    """{column: (min, max)} across a parquet file's row groups, from the
    footer statistics alone, for every TOP-LEVEL scalar column whose stats
    decode to str/int (JSON-portable, total-ordered; bools and nested paths
    like ``tokens.list.element`` are skipped). A column missing stats in any
    row group is omitted — file skipping then conservatively keeps the
    file for predicates on it."""
    if not meta.num_row_groups:
        return {}
    out: dict[str, tuple] = {}
    for i in range(meta.num_columns):
        col = meta.row_group(0).column(i).path_in_schema
        if "." in col:
            continue
        kmin = kmax = None
        ok = True
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    ok = False
                    break
            if isinstance(mn, bool) or not isinstance(mn, (str, int)):
                ok = False
                break
            kmin = mn if kmin is None else min(kmin, mn)
            kmax = mx if kmax is None else max(kmax, mx)
        if ok and kmin is not None:
            out[col] = (kmin, kmax)
    return out


def _type_from_json(j) -> T.DataType:
    if isinstance(j, str):
        return {
            "string": T.StringType(),
            "integer": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "boolean": T.BooleanType(),
            "date": T.DateType(),
            "timestamp": T.TimestampType(),
            "binary": T.BinaryType(),
        }[j]
    if j.get("type") == "array":
        return T.ArrayType(_type_from_json(j["elementType"]), j.get("containsNull", True))
    if j.get("type") == "struct":
        return T.StructType(
            [T.StructField(f["name"], _type_from_json(f["type"]), f.get("nullable", True)) for f in j["fields"]]
        )
    raise ValueError(f"unsupported type json: {j}")
