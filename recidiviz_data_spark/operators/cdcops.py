"""CDC engine operators exposed through the driver contract.

All three are oracle-checked. ``cdc_differ_opcounts`` runs over the fixed
testdata views. ``cdc_apply_state`` and ``cdc_stream_state`` exercise the
real engine (miniberg MERGE / structured streaming) on a deterministic
generated changelog; their oracles read the SAME generated parquet with
DuckDB ``read_parquet`` and express the LWW fold + tombstone filter in SQL —
the engine's batch-by-batch (or stream-microbatch) apply must converge to
exactly that fold regardless of batch/file grouping (staleness is
event_seq-based, so the global argmax per doc is the unique fixed point).

The changelog is a pure function of its generator parameters (counter-hash
payloads, no wall-clock/RNG state — gen.py), so the work directory is keyed
on THOSE PARAMETERS, not on sf_dir: any change to the generator arguments
provably lands in a fresh directory and regenerates (a stale /tmp table from
an older code round can never be served), while identical params share one
cache across scale factors.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from recidiviz_data_spark.operators.base import _q
from recidiviz_data_spark.operators.relational import load

# generator parameters for the two engine-demo queries — the single source of
# truth shared by the Spark query, the workdir key, and the DuckDB oracle
APPLY_GEN = dict(n_docs=800, n_events=6000, n_batches=4, seed=7,
                 zipf_a=1.2, delete_rate=0.08, dup_rate=0.05, stale_rate=0.03)
STREAM_GEN = dict(n_docs=400, n_events=3000, n_batches=4, seed=11,
                  delete_rate=0.1)

# how long a waiter watches a held changelog lock before declaring its holder
# dead and taking the lock over (tests shrink this to exercise the takeover)
LOCK_WAIT_SECS = 60.0


def _old_new(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    old = d.filter("doc_id % 7 <> 0")
    new = d.filter("doc_id % 5 <> 0").withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, F.upper("lang")).otherwise(F.col("lang"))
    )
    return old, new


@_q(
    "cdc_differ_opcounts",
    """
    WITH old_v AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 7 <> 0),
         new_v AS (SELECT doc_id, text,
                          CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang
                   FROM documents WHERE doc_id % 5 <> 0)
    SELECT op, COUNT(*) AS n FROM (
      SELECT CASE WHEN o.doc_id IS NULL THEN 'I'
                  WHEN n.doc_id IS NULL THEN 'D'
                  WHEN o.text IS DISTINCT FROM n.text
                       OR o.lang IS DISTINCT FROM n.lang THEN 'U' END AS op
      FROM old_v o FULL OUTER JOIN new_v n ON o.doc_id = n.doc_id)
    WHERE op IS NOT NULL GROUP BY op
    """,
)
def cdc_differ_opcounts(spark, sf_dir):
    """The snapshot differ (engine module cdc/differ.py) run over two derived
    versions of documents: emitted I/U/D event counts."""
    from recidiviz_data_spark.cdc.differ import snapshot_diff

    old, new = _old_new(spark, sf_dir)
    ev = snapshot_diff(old, new, key="doc_id", payload_cols=["text", "lang"], snapshot_seq=1)
    return ev.groupBy("op").agg(F.count("*").alias("n"))


def _workdir(tag: str, params: dict) -> str:
    """/tmp workdir keyed on (tag, generator params, table format) —
    code-version-proof: changing ANY gen_changelog argument or the miniberg
    manifest format changes the key, so a stale cached changelog/table from
    older parameters or an older format can never be served silently."""
    from recidiviz_data_spark.tables.miniberg import FORMAT

    sig = json.dumps(params, sort_keys=True)
    h = hashlib.md5(f"{tag}:{sig}:{FORMAT}".encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"rds_cdc_{tag}_{h}")


def changelog_dir(tag: str, params: dict) -> str:
    return os.path.join(_workdir(tag, params), "changelog")


def ensure_changelog(tag: str, params: dict) -> str:
    """Generate the deterministic changelog if absent (pure numpy/pyarrow —
    no Spark needed, so the DuckDB oracle can trigger it too). Returns the
    changelog directory.

    Publication is an ATOMIC directory rename: generation happens in a
    process-private sibling dir and lands with one os.rename, so a racing
    generator (two test processes, or query + oracle) can never observe —
    or corrupt — a half-written tree. The content is a pure function of
    ``params``, so whichever racer publishes first wins with identical
    bytes; the loser just discards its copy. The _GEN_SUCCESS sentinel
    (written last, inside the staged dir) still guards against a stale
    partial dir from the PRE-rename era — and removing such a stale dir
    happens only under an O_EXCL lock file with the sentinel re-checked
    inside it AND the dir atomically claimed (renamed to a trash path)
    before deletion, so no racer can ever lose a dir another process just
    published — not even through the empty-stale-dir hole, where POSIX
    rename() onto an empty target succeeds. Crashed lock holders cannot
    brick the path: waiters take over locks older than the wait window."""
    import time as _time

    from recidiviz_data_spark.gen import gen_changelog

    cl = changelog_dir(tag, params)
    sentinel = os.path.join(cl, "_GEN_SUCCESS")
    if os.path.exists(sentinel):
        return cl
    stage = f"{cl}.stage-{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    gen_changelog(stage, **params)
    try:
        try:
            os.rename(stage, cl)  # the common path: cl absent -> atomic publish
            return cl
        except OSError:
            pass
        if os.path.exists(sentinel):
            return cl  # a racer published the identical content first
        # cl exists WITHOUT a sentinel: a stale partial dir (pre-rename era)
        # blocks every rename. Clear it under a lock so only ONE process may
        # act, re-check the sentinel inside the lock, then CLAIM the stale
        # dir with an atomic rename to a trash path before deleting it.
        # (rmtree-in-place is unsafe: POSIX rename() succeeds onto an
        # existing EMPTY dir, so a racer could publish between the re-check
        # and the rmtree and the lock holder would delete the just-published
        # dir. The claim-rename either wins atomically — the racer's publish
        # then lands on the now-free path — or fails cleanly because the
        # racer already published/claimed.)
        lock = cl + ".lock"
        for _attempt in range(2):
            try:
                os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            except FileExistsError:
                # another process holds the lock; wait for its publish
                deadline = _time.time() + LOCK_WAIT_SECS
                while _time.time() < deadline:
                    if os.path.exists(sentinel):
                        return cl
                    _time.sleep(0.05)
                # no publish arrived: the holder may have crashed between
                # creating the lock and unlinking it. Take over locks older
                # than the wait window instead of failing forever — we hold
                # a complete staged dir ready to publish.
                try:
                    stale = _time.time() - os.path.getmtime(lock) > LOCK_WAIT_SECS
                except OSError:
                    continue  # lock vanished concurrently — retry acquire
                if stale:
                    try:
                        os.unlink(lock)
                    except OSError:
                        pass
                    continue  # retry the locked clear under a fresh lock
                raise RuntimeError(f"timed out waiting on changelog lock {lock}")
            try:
                if not os.path.exists(sentinel):
                    trash = f"{cl}.trash-{os.getpid()}"
                    try:
                        os.rename(cl, trash)  # atomic claim of the stale dir
                    except OSError:
                        pass  # a racer published or claimed first
                    else:
                        shutil.rmtree(trash, ignore_errors=True)
                    try:
                        os.rename(stage, cl)
                    except OSError:
                        if not os.path.exists(sentinel):
                            raise
                return cl
            finally:
                try:
                    os.unlink(lock)
                except OSError:
                    pass
        raise RuntimeError(f"could not acquire changelog lock {lock}")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def ensure_changelogs() -> None:
    """Eagerly materialize both engine-demo changelogs — called from
    ``__spark_entry__.oracle_sql()`` so the oracle's ``read_parquet`` works
    even if the driver runs the oracle before the Spark query."""
    ensure_changelog("apply", APPLY_GEN)
    ensure_changelog("stream", STREAM_GEN)


def _state_oracle_sql(tag: str, params: dict) -> str:
    """The LWW fold + tombstone filter + per-source rollup in DuckDB SQL over
    the generated changelog parquet. Exact duplicate events share
    (doc_id, event_seq) with bit-identical payloads, so the row_number tie is
    value-irrelevant; token normalization in the engine is an identity here
    (generated tokens are already in [0, vocab) with no pads), so n_tok is
    unchanged by the apply path."""
    glob_path = os.path.join(changelog_dir(tag, params), "batch_id=*", "part-*.parquet")
    return f"""
    WITH ev AS (
      SELECT doc_id, op, n_tok, source,
             row_number() OVER (PARTITION BY doc_id ORDER BY event_seq DESC) AS rn
      FROM read_parquet('{glob_path}')
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens
    FROM ev WHERE rn = 1 AND op <> 'D'
    GROUP BY source
    """


def _payload_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ])


def _state_summary(spark, table):
    return (
        table.read(spark)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.col("n_tok").cast("long")).alias("total_tokens"))
    )


@_q("cdc_apply_state", _state_oracle_sql("apply", APPLY_GEN))
def cdc_apply_state(spark, sf_dir):
    """End-to-end engine demo: generate a deterministic changelog (dups,
    deletes, stale replays, Zipf skew), MERGE it batch-by-batch into a
    miniberg table, return the final state aggregated per source. The oracle
    computes the same state as one SQL LWW fold over the raw changelog —
    batch-by-batch apply must converge to it (replay-equality contract)."""
    from recidiviz_data_spark.cdc.apply import apply_batches, create_empty_table
    from recidiviz_data_spark.tables.miniberg import Miniberg

    cl = ensure_changelog("apply", APPLY_GEN)
    troot = os.path.join(_workdir("apply", APPLY_GEN), "table")
    if Miniberg.exists(troot):
        table = Miniberg(troot)
    else:
        table = create_empty_table(troot, _payload_schema(), num_buckets=8)
    apply_batches(spark, table, cl)  # no-op if already applied (idempotent)
    return _state_summary(spark, table)


@_q("cdc_stream_state", _state_oracle_sql("stream", STREAM_GEN))
def cdc_stream_state(spark, sf_dir):
    """Structured Streaming (availableNow + foreachBatch -> miniberg MERGE)
    over a v1-only changelog; returns the resulting table state summary.
    Same SQL-fold oracle as ``cdc_apply_state``: the stream's file->microbatch
    grouping must not change the fixed point (event_seq staleness)."""
    from recidiviz_data_spark.cdc.apply import create_empty_table
    from recidiviz_data_spark.streaming.microbatch import stream_apply_available_now
    from recidiviz_data_spark.tables.miniberg import Miniberg

    cl = ensure_changelog("stream", STREAM_GEN)
    wd = _workdir("stream", STREAM_GEN)
    troot = os.path.join(wd, "table")
    ckpt = os.path.join(wd, "ckpt")
    if Miniberg.exists(troot):
        table = Miniberg(troot)
    else:
        table = create_empty_table(troot, _payload_schema(), num_buckets=4)
    stream_apply_available_now(spark, table, cl, ckpt, max_files_per_trigger=1)
    return _state_summary(spark, table)
