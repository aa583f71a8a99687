"""The benchmark workloads.

Each workload runs in one process against one Spark session at a time:

- `prepare(rep_dir)`: one set-up repetition (input generation and the
  engine-side set-up); the runner times several and reports the median as
  `setup_s`. The last repetition's state is the one the timed loop uses.
- `cycle()`: one closed-loop iteration; appends its timed sample.
- `check()`: the correctness gate, run after the timed region.
- `trace_warmup(first)`: traced runs only, before each half.

Inputs come only from the seed; the engine sees only the generated files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb
import numpy as np

from querydata import gen_query_tables

# stream_tail: small batches into a many-bucket table, so each batch touches
# well under half the buckets and the view syncs take their incremental path
TAIL_DOCS = 10_000
TAIL_BUCKETS = 32
TAIL_BATCH_EVENTS = 12
TAIL_BATCHES = 80
COMPACT_FILES_PER_BUCKET = 4  # apply_batch's default auto-compaction trigger
# the snapshot is written as files of at most this many rows: the doc ids do
# not depend on the seed and every bucket holds 256-358 of them, so every
# bucket starts with three files, one short of the compaction trigger
BASE_FILE_ROWS = 125
# query_mix: the 17 headline queries of bench.py over generated tables
QUERY_SF = 0.01
QUERIES = [
    "a1_pricing_summary", "j3_dim_join_revenue", "j1_merge_full_outer",
    "j4_date_spine", "w1_topk_per_group", "w2_sessionize", "a6_cube",
    "a5_lww_state", "u1_stitch_precedence", "f_json_extract", "t_token_count",
    "d_minhash_lsh", "d_simhash_banded", "e_ann_topk", "st_tumbling_daily",
    "x_subword_bpe", "x_token_shard_packing",
]
# the queries the ROADMAP's carried items target (j3 broadcast, the
# unpartitioned window, the two near-dup stages): query_mix's `op_cpu_s`
CARRIED_QUERIES = ["j3_dim_join_revenue", "x_token_shard_packing",
                   "d_minhash_lsh", "d_simhash_banded"]
LOOKUP_KEYS = 10


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise AssertionError(msg)


def _proc_tree() -> dict[int, tuple[int, list[int]]]:
    """pid -> (CPU ticks: user + system, own + reaped children; child pids)."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while we listed
            stats[int(d)] = sum(int(x) for x in fields[11:15])  # utime..cstime
            children.setdefault(int(fields[1]), []).append(int(d))
    return {pid: (ticks, children.get(pid, [])) for pid, ticks in stats.items()}


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a process's JIT compiler threads (none outside a JVM)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            continue
    return total


def cpu_seconds() -> tuple[float, float]:
    """(engine CPU, JIT CPU) seconds of this process and every live
    descendant: the JVM, and the Python workers it forks. Engine CPU is
    all CPU time less the JVM's JIT compiler threads. JIT compilation is a
    start-up cost of a fresh process that a long-running engine amortises,
    and the noisiest part of a short run's CPU time. Spark's own code
    generation runs on the driver and task threads and stays counted. CPU
    time excludes time the host stole from the guest's vCPUs."""
    tree = _proc_tree()
    cpu = jit = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks, kids = tree.get(pid, (0, []))
        j = _jit_ticks(pid)
        cpu, jit = cpu + ticks - j, jit + j
        todo += kids
    hz = os.sysconf("SC_CLK_TCK")
    return cpu / hz, jit / hz


def _noop_scan(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _rows(df) -> set[tuple]:
    """(doc_id, tokens, n_tok, source) rows of a pandas frame, as a set."""
    return {(r.doc_id, tuple(int(x) for x in r.tokens), int(r.n_tok), r.source)
            for r in df[["doc_id", "tokens", "n_tok", "source"]].itertuples()}


def lww_fold(changelog_dir: str, upto_batch: int, base_path: str):
    """DuckDB LWW fold of the changelog up to `upto_batch` over a base
    snapshot, which enters the fold as inserts at event_seq -1. Same
    total-order tiebreak as `oracle.expected_state_sql`."""
    con = duckdb.connect()
    try:
        return con.execute(f"""
            WITH log AS (
              SELECT doc_id, CAST(-1 AS BIGINT) AS event_seq, 'I' AS op, tokens,
                     CAST(n_tok AS BIGINT) AS n_tok, source
              FROM read_parquet('{base_path}') UNION ALL
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, event_seq, op, tokens,
                     CAST(n_tok AS BIGINT) AS n_tok, source
              FROM read_parquet('{changelog_dir}/batch_id=*/*.parquet',
                                hive_partitioning=true, union_by_name=true)
              WHERE batch_id <= {upto_batch}),
            w AS (SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY event_seq DESC, op DESC NULLS LAST,
                    tokens DESC NULLS LAST, n_tok DESC NULLS LAST,
                    source DESC NULLS LAST) AS rn FROM log)
            SELECT doc_id, tokens, n_tok, source FROM w WHERE rn = 1 AND op <> 'D'
        """).df()
    finally:
        con.close()


class Workload:
    name = ""
    setup_reps = 3  # set-up repetitions; setup_s is their median

    table = None  # the miniberg table a workload writes, if any

    def __init__(self, run):
        self.run = run  # the runner: spark, seed, tracer, op accounting
        self.samples: list[dict] = []
        self.batches: list[dict] = []  # per-apply write stats, traced runs only
        self.sync_results: list[dict] = []

    def reset(self) -> None:
        """Drop what the timed loop gathered (between traced-run halves)."""
        self.samples, self.batches = [], []
        self.sync_results.clear()

    def done(self) -> bool:
        """Whether the loop may stop once its time is up."""
        return True

    @property
    def spark(self):
        return self.run.spark

    def prepare(self, rep_dir: str) -> None:
        raise NotImplementedError

    def cycle(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def trace_warmup(self, first: bool) -> None:
        """Before a traced-run half: `first` before the untraced half, then
        again in the fresh traced session, which keeps the JVM (and its JIT
        state) but starts a new context. Both halves must time the same
        work, warm."""

    def end_to_end(self) -> dict[str, float]:
        """Medians over the timed cycles (`*_cpu_s`: CPU seconds, the rest
        wall)."""
        s = self.samples
        return {
            "op_s_p50": statistics.median(x["op_s"] for x in s),
            "cycle_s": statistics.median(x["cycle_s"] for x in s),
            "op_cpu_s": statistics.median(x["op_cpu_s"] for x in s),
            "cycle_cpu_s": statistics.median(x["cpu_s"] for x in s),
        }


class StreamTail(Workload):
    """A bootstrapped 10k-doc, 32-bucket table with three files in every
    bucket, tailed one small Zipf batch at a time with `apply_batch`
    (mor/compact "auto"); after each commit the agg and distinct views
    sync, a 10-key lookup and a full scan run (the scan every batch, so
    every cycle has the same steps).

    The first tailed batch is always a delta batch: no bucket it changes
    holds `COMPACT_FILES_PER_BUCKET` files yet, and each bucket changes far
    less than the merge-on-read threshold. It leaves four files in every
    bucket it changed, so the second batch compacts as soon as it changes
    one of them (about 10 of 32 buckets change per batch, so it nearly
    always does)."""

    name = "stream_tail"

    def prepare(self, rep_dir: str) -> None:
        """Generate the base snapshot and the changelog, bootstrap the table
        and build both views."""
        from recidiviz_data_spark.cdc.apply import bootstrap_table
        from recidiviz_data_spark.gen import gen_base_table, gen_changelog

        seed, spark = self.run.seed, self.spark
        self.rep_dir = rep_dir
        self.base = os.path.join(rep_dir, "base", "base.parquet")
        self.changelog = os.path.join(rep_dir, "changelog")
        gen_base_table(self.base, n_docs=TAIL_DOCS, seed=seed)
        gen_changelog(self.changelog, n_docs=TAIL_DOCS,
                      n_events=TAIL_BATCH_EVENTS * TAIL_BATCHES, n_batches=TAIL_BATCHES,
                      seed=seed, zipf_a=1.1, delete_rate=0.05, dup_rate=0.03,
                      stale_rate=0.02, extra={"gen_threads": 1})
        spark.conf.set("spark.sql.files.maxRecordsPerFile", BASE_FILE_ROWS)
        try:
            table = bootstrap_table(spark, os.path.join(rep_dir, "table"),
                                    spark.read.parquet(self.base), num_buckets=TAIL_BUCKETS)
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        depth = {s["n_files"] for s in table.bucket_summaries().values()}
        _require(depth == {COMPACT_FILES_PER_BUCKET - 1}, f"bootstrap left {depth} files per bucket")
        self.table = table
        self.views = {"agg": os.path.join(rep_dir, "agg_view"),
                      "distinct": os.path.join(rep_dir, "distinct_view")}
        self._hook()(table, -1)  # the first sync builds both views
        self._restart()

    def _restart(self) -> None:
        """Point the tail at its first batch, with the same lookup keys."""
        self.rng = np.random.default_rng(self.run.seed)
        self.next_batch = 0
        self.lookup = None
        self.sync_results.clear()

    def _hook(self):
        from recidiviz_data_spark.streaming.microbatch import index_sync_hook

        return index_sync_hook(
            self.spark,
            agg_views=[(self.views["agg"], "source", "n_tok")],
            distinct_views=[(self.views["distinct"], "source", "n_tok")],
            results=self.sync_results,
        )

    def _state_dirs(self) -> list[str]:
        return [self.table.root, *self.views.values()]

    def trace_warmup(self, first: bool) -> None:
        """Both halves start from the same state: the prepared table and
        views are saved, and restored before each half. Before the untraced
        half, batch 0 runs once unrecorded, so both halves time it warm."""
        from recidiviz_data_spark.tables.miniberg import Miniberg

        saved = os.path.join(self.rep_dir, "saved")
        if first:
            for d in self._state_dirs():
                shutil.copytree(d, os.path.join(saved, os.path.basename(d)))
            self._step()
            self.samples = []
        for d in self._state_dirs():
            shutil.rmtree(d)
            shutil.copytree(os.path.join(saved, os.path.basename(d)), d)
        self.table = Miniberg(self.table.root)
        self._restart()

    @staticmethod
    def _both_modes(samples: list[dict]) -> bool:
        return len({s["compacting"] for s in samples}) == 2

    def done(self) -> bool:
        """The traced half runs until it has timed both batch modes."""
        return not self.run.tracer.enabled or self._both_modes(self.samples)

    def _step(self) -> None:
        from recidiviz_data_spark.cdc import apply as apply_mod
        from recidiviz_data_spark.sources.changelog import read_batch

        run, tr, table, b = self.run, self.run.tracer, self.table, self.next_batch
        if b >= TAIL_BATCHES:
            raise RuntimeError("stream_tail ran out of generated batches")
        self.next_batch += 1
        keys = [f"doc_{i:08d}" for i in self.rng.integers(0, TAIL_DOCS, LOOKUP_KEYS)]
        pre_files = {k: s["n_files"] for k, s in table.bucket_summaries().items()}
        pre_paths = {f["path"] for f in table.files()} if tr.enabled else None
        c0, t0 = cpu_seconds()[0], time.perf_counter()
        with run.op("apply"), tr.span("cdc.apply"):
            with tr.span("sources.read_batch"):
                df = read_batch(self.spark, self.changelog, b)
            lineage = apply_mod.apply_batch(self.spark, table, df, b)
        t1, c1 = time.perf_counter(), cpu_seconds()[0]
        hook = self._hook()  # binds the current session
        with run.op("sync"), tr.span("sync.hook"):
            hook(table, b)
        t2 = time.perf_counter()
        with run.op("lookup"), tr.span("tables.lookup"):
            self.lookup = (keys, table.read_keys(self.spark, keys).toPandas())
        t3 = time.perf_counter()
        with run.op("scan"), tr.span("tables.scan"):
            _noop_scan(table.read(self.spark))
        t4 = time.perf_counter()
        changed = [r["bucket"] for r in lineage if "write_mode" in r]
        sample = {
            "batch": b, "op_s": t1 - t0, "cycle_s": t4 - t0, "op_cpu_s": c1 - c0,
            "sync_s": t2 - t1, "lookup_s": t3 - t2, "scan_s": t4 - t3,
            "compacting": any(pre_files.get(k, 0) >= COMPACT_FILES_PER_BUCKET for k in changed),
        }
        self.samples.append(sample)
        if pre_paths is not None:
            written = sum(f["rows"] for f in table.files(buckets=changed)
                          if f["path"] not in pre_paths) if changed else 0
            self.batches.append({
                "apply_s": t1 - t0, "compacting": sample["compacting"],
                "changed_buckets": len(changed),
                "mor_buckets": sum(r.get("write_mode") == "mor" for r in lineage),
                "rows_written": written,
                "changed_rows": sum(r["applied"] + r["deleted"] for r in lineage),
            })

    def cycle(self) -> None:
        self._step()

    def check(self) -> None:
        """The table's engine read and the last lookup against an LWW fold
        of everything applied; both views against a recompute of the fold."""
        from recidiviz_data_spark.operators.aggview import agg_view_read, distinct_view_read
        from recidiviz_data_spark.oracle import assert_state_equal

        run = self.run
        want = lww_fold(self.changelog, self.next_batch - 1, self.base)
        with run.op("check_state", fatal=False):
            assert_state_equal(self.table.read(self.spark).toPandas(), want)
        with run.op("check_lookup", fatal=False):
            keys, got = self.lookup
            _require(_rows(got) == _rows(want[want.doc_id.isin(keys)]),
                     f"lookup of {sorted(set(keys))} disagrees with the fold")
        con = duckdb.connect()
        try:
            con.register("state", want)
            want_agg = con.execute("""
                SELECT source, count(*), sum(n_tok), min(n_tok), max(n_tok)
                FROM state GROUP BY source ORDER BY source""").fetchall()
            want_distinct = con.execute("""
                SELECT source, count(DISTINCT n_tok) FROM state
                GROUP BY source ORDER BY source""").fetchall()
        finally:
            con.close()
        with run.op("check_agg_view", fatal=False):
            got = sorted(
                (r["source"], int(r["n_rows"]), int(r["sum_val"]), int(r["min_val"]),
                 int(r["max_val"]))
                for r in agg_view_read(self.spark, self.views["agg"]).collect())
            want = [tuple([s] + [int(x) for x in rest]) for s, *rest in want_agg]
            _require(got == want, f"agg view {got} != recompute {want}")
        with run.op("check_distinct_view", fatal=False):
            got = sorted((r["source"], int(r["n_distinct"]))
                         for r in distinct_view_read(self.spark, self.views["distinct"]).collect())
            want = [(s, int(n)) for s, n in want_distinct]
            _require(got == want, f"distinct view {got} != recompute {want}")


class QueryMix(Workload):
    """The 17 `bench.py` headline queries over seeded generated tables,
    round-robin until time is up (at least one full pass). Timed queries
    collect their rows for the oracle check."""

    name = "query_mix"
    # a set-up here takes under a second, so a hiccup of the host moves one
    # repetition by a large share: take the median of more
    setup_reps = 5

    def prepare(self, rep_dir: str) -> None:
        """Generate the tables. The queries read them on each call: the
        engine has no set-up step of its own here."""
        self.data = os.path.join(rep_dir, "tables")
        gen_query_tables(self.data, sf=QUERY_SF, seed=self.run.seed)
        self.next_q = 0
        self.results: dict = {}

    def _fn(self, name: str):
        from recidiviz_data_spark.operators import registry

        return registry.QUERIES.get(name) or registry.EXTRA_QUERIES[name]

    def trace_warmup(self, first: bool) -> None:
        """One noop pass of all 17 queries over the tables before the
        untraced half, so both halves time a warm pass (a pass over a small
        copy of the tables warms little). The traced session restarts the
        Python workers, and the traced pass pays for that: a second warm-up
        pass would take a traced run too close to its time limit."""
        if first:
            for name in QUERIES:
                with self.run.op(name):
                    _noop_scan(self._fn(name)(self.spark, self.data))
        self.next_q = 0

    def cycle(self) -> None:
        """One query, collected to the driver: the rows feed the oracle
        check after the timed region."""
        name = QUERIES[self.next_q % len(QUERIES)]
        self.next_q += 1
        c0, t0 = cpu_seconds()[0], time.perf_counter()
        with self.run.op(name), self.run.tracer.span("query", q=name):
            self.results[name] = self._fn(name)(self.spark, self.data).toPandas()
        dt, cpu = time.perf_counter() - t0, cpu_seconds()[0] - c0
        self.samples.append({"q": name, "op_s": dt, "cycle_s": dt, "op_cpu_s": cpu})

    def done(self) -> bool:
        """Every query sampled at least once before the loop may stop."""
        return len({s["q"] for s in self.samples}) == len(QUERIES)

    def per_query(self, key: str) -> dict[str, float]:
        """Each query's median of a sample field."""
        out: dict[str, list[float]] = {q: [] for q in QUERIES}
        for s in self.samples:
            out[s["q"]].append(s[key])
        return {q: statistics.median(v) for q, v in out.items()}

    def end_to_end(self) -> dict[str, float]:
        """Per pass of the mix, from each query's median: `cycle_*` sums all
        17 queries, `op_*` the carried ones."""
        e = {}
        for metric, key in (("cycle_s", "op_s"), ("cycle_cpu_s", "cpu_s"),
                            ("op_s_p50", "op_s"), ("op_cpu_s", "cpu_s")):
            per_q = self.per_query(key)
            qs = CARRIED_QUERIES if metric.startswith("op_") else QUERIES
            e[metric] = sum(per_q[q] for q in qs)
        return e

    def check(self) -> None:
        """Each query's last collected rows must match its DuckDB oracle
        SQL exactly (the contract's compare)."""
        from types import SimpleNamespace

        from recidiviz_data_spark.operators import registry
        from recidiviz_data_spark.plans.contract_check import compare, duck_connection

        con = duck_connection(self.data)
        try:
            for name, rows in self.results.items():
                sql = registry.ORACLES.get(name) or registry.EXTRA_ORACLES[name]
                with self.run.op(f"check_{name}", fatal=False):
                    compare(SimpleNamespace(toPandas=lambda rows=rows: rows),
                            con.execute(sql).df(), name=name)
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (StreamTail, QueryMix)}
