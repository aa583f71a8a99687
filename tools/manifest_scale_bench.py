"""Metadata-scale benchmark for the miniberg manifest tree (root ->
bucket-range manifests -> per-bucket sidecars): measure commit /
summary-parse / single-bucket-read time as the bucket count grows toward
the documented ~10^5 envelope.

Metadata-only: file entries are synthesized (commit never opens data files),
so the numbers isolate the manifest path itself. Run:

    python tools/manifest_scale_bench.py [n_buckets ...]

Prints one JSON line per bucket count with:
  full_commit_sec       initial commit writing every bucket's sidecar and
                        every range manifest
  incr_commit_sec       a later commit touching ONE bucket (the apply shape:
                        untouched ranges are carried verbatim, one range
                        manifest and the root are rewritten)
  summaries_sec         table.bucket_summaries(m) (loads every range manifest)
  one_bucket_read_sec   files(buckets=[k]) — one range manifest + one sidecar
  manifest_bytes        size of the root v{N}.json (~sqrt(B) range rows)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from recidiviz_data_spark.tables.miniberg import Miniberg


def _entries(n_buckets: int, tag: str) -> list[dict]:
    return [
        {
            "path": f"data/{tag}-b{b:06d}.parquet",
            "bucket": b,
            "rows": 1000,
            "bytes": 1 << 20,
            "schema_id": 0,
            "key_min": f"doc_{b:08d}",
            "key_max": f"doc_{b + 1:08d}",
        }
        for b in range(n_buckets)
    ]


def bench(n_buckets: int) -> dict:
    root = tempfile.mkdtemp(prefix=f"miniberg_scale_{n_buckets}_")
    try:
        schema = T.StructType([T.StructField("doc_id", T.StringType(), False)])
        t = Miniberg.create(root, schema, num_buckets=n_buckets)

        t0 = time.monotonic()
        t.commit(added_files=_entries(n_buckets, "full"),
                 replaced_buckets=set(range(n_buckets)))
        full_commit = time.monotonic() - t0

        t0 = time.monotonic()
        t.commit(added_files=_entries(1, "incr"), replaced_buckets={0})
        incr_commit = time.monotonic() - t0

        t0 = time.monotonic()
        m = t.manifest()
        summ = t.bucket_summaries(m)
        summaries = time.monotonic() - t0

        t0 = time.monotonic()
        fs = t.files(buckets=[n_buckets // 2], manifest=m)
        one_read = time.monotonic() - t0

        assert len(summ) == n_buckets and len(fs) == 1
        return {
            "n_buckets": n_buckets,
            "full_commit_sec": round(full_commit, 3),
            "incr_commit_sec": round(incr_commit, 3),
            "summaries_sec": round(summaries, 3),
            "one_bucket_read_sec": round(one_read, 4),
            "manifest_bytes": os.path.getsize(t._vpath(t.current_version())),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    counts = [int(a) for a in sys.argv[1:]] or [10_000, 100_000]
    for n in counts:
        print(json.dumps(bench(n)))
