"""The benchmark's workloads: closed loops with one client.

Each workload has an ingest phase; traced runs follow it with a lake
phase on the table the ingest built.

- ``bulk_replay`` ingests a backfill: two large parquet segments
  replay into a fresh copy-on-write table, normalizing every event, a
  fixed number of times. The data-volume layers dominate: scan +
  normalize, the LWW reduce and bucket merge join, the parquet write
  and the checksum read-back.
- ``trickle_ingest`` ingests ~5k-event commits, delivered as Debezium
  envelope text files, into a standing table under
  ``merge_mode="auto"``. Per-commit fixed costs dominate: Spark jobs,
  codegen, the stats pre-pass, manifest, sidecars and publish. The
  commits span one whole escalation cycle (merge-on-read appends, one
  copy-on-write escalation) and end with one ``compact()``. The table
  keeps file stats and blooms, so the lake phase's pruned reads use
  them and their cost shows on every commit.

The lake phase measures the read and DML layers per layer: a read
round (key hits and a miss, a recency range read, a bloom lookup), on
``trickle_ingest`` a DML step (a small ``merge_into`` source, then a
point ``delete_where``) and the change feed of that step, and a second
read round. Every output is checked against the DuckDB oracle, outside
the timed calls.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mex_extractors_spark import synth
from mex_extractors_spark.lake.table import LakeTable
from mex_extractors_spark.sources.cdc_envelope import parse_cdc_envelope
from mex_extractors_spark.sources.normalize import normalize_change_events
from mex_extractors_spark.streaming.replay import ReplayEngine

from perfbench import corpus
from perfbench.oracle import Oracle, checked, dump_digest, rows_of
from perfbench.tracing import JvmProbe, Tracer, live_files, walk, written

WORKLOADS = ("bulk_replay", "trickle_ingest")

# Inputs per workload. "full" is what the benchmark measures; "toy" keeps
# the same shape at a size the smoke tests run in seconds. ``recent`` is
# the seq span of the lake phase's range read.
SIZES = {
    "full": {
        "bulk_replay": {"events": 800_000, "segments": 2, "n_repos": 2_000,
                        "recent": 4_000, "merge_rows": 50},
        "trickle_ingest": {"standing": 40_000, "commit_events": 5_000, "n_repos": 1_000,
                           "recent": 2_000, "merge_rows": 50},
    },
    "toy": {
        "bulk_replay": {"events": 20_000, "segments": 2, "n_repos": 100,
                        "recent": 400, "merge_rows": 10},
        "trickle_ingest": {"standing": 6_000, "commit_events": 500, "n_repos": 100,
                           "recent": 200, "merge_rows": 10},
    },
}

# input generations per run; setup_s counts their median
SETUP_REPS = 3
# measured bulk replays per run, whatever --seconds says
BULK_REPLAYS = 3
# trickle escalation cycle: MAX_DELTAS merge-on-read commits, then one
# copy-on-write escalation. The engine default is 8; 2 keeps whole
# cycles inside one run's time budget. A group starts after a cycle's
# first commit and ends with one commit past the escalation, so it
# leaves the table as it found it: one delta per bucket. The warm-up
# commit opens the first group; the last leaves a delta for compact().
MAX_DELTAS = 2
GROUPS = 2
GROUP_MODES = "m" * (MAX_DELTAS - 1) + "cm"
TRICKLE_COMMITS = GROUPS * len(GROUP_MODES)
TRICKLE_OPTS = {
    "merge_mode": "auto",
    "max_deltas_per_bucket": MAX_DELTAS,
    "stats_cols": ["seq", "lang"],
    "bloom_cols": ["commit"],
}
# the lake phase's merge source updates 4/5 existing keys, inserts 1/5
MERGE_UPDATE_SHARE = 0.8
# events re-encoded as envelopes for the traced source-layer probe
PROBE_EVENTS = 5_000


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)


@dataclass
class Write:
    """One timed write step and what it added under the table directory."""

    seconds: float
    bytes: int
    files: int
    jobs: int  # Spark jobs it ran (traced runs only)

    def __add__(self, other: "Write") -> "Write":
        return Write(self.seconds + other.seconds, self.bytes + other.bytes,
                     self.files + other.files, self.jobs + other.jobs)


class Run:
    """State shared by one workload run: session, tracer, scratch dir,
    seeded RNG, the attempted/failed operation counts and what the
    timed calls recorded."""

    def __init__(self, spark: SparkSession, tracer: Tracer, scratch: str, seed: int,
                 size: dict) -> None:
        self.spark = spark
        self.tracer = tracer
        self.scratch = scratch
        self.seed = seed
        self.size = size
        self.rng = random.Random(seed)
        self.out = Outcome()
        self.schema = synth.events(spark, 1).schema
        self.probe = JvmProbe(spark)
        self.apply_stats: list = []
        self.ingest: list[Write] = []
        self.dml_steps: list[Write] = []
        # per-call walls by lake operation
        self.lake: dict[str, list[float]] = {
            "read_key": [], "range": [], "bloom": [], "merge": [], "delete": [], "changes": []}
        self.read_key_files: list[int] = []
        self.scans: list[tuple[int, int, float]] = []  # files, bytes, pruned share
        self.changes_rows: list[int] = []
        self.dml_matched = 0
        self.dml_buckets = 0
        self.compact: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def fail(self, what: str) -> None:
        self.out.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def expect(self, ok: bool, what: str) -> None:
        """An oracle comparison of an already attempted operation."""
        if not ok:
            self.fail(what)

    def timed(self, name: str, fn, **attrs):
        """Run one engine call as an attempted operation. Returns
        ``(result, seconds, span)``; a raised exception counts as a
        failed operation and returns ``(None, seconds, span)``."""
        self.out.attempted += 1
        with self.tracer.span(name, **attrs) as sp:
            t0 = time.perf_counter()
            try:
                res = fn()
            except Exception:  # counted as a failed operation; the run goes on
                self.fail(f"{name}: {traceback.format_exc()}")
                res = None
            dt = time.perf_counter() - t0
        return res, dt, sp

    def timed_write(self, table: LakeTable, name: str, fn, **attrs) -> tuple[object, Write]:
        """A timed write, with what it added under the table directory."""
        before = walk(table.path)
        res, dt, sp = self.timed(name, fn, **attrs)
        nbytes, nfiles = written(before, walk(table.path))
        return res, Write(dt, nbytes, nfiles, sp["spark"]["jobs"] if sp else 0)

    # ---------------------------------------------------------- lake phase

    def read_round(self, table: LakeTable, oracle: Oracle, recent: int) -> None:
        """One fixed set of reads, each collected and checked: three key
        hits, one key miss, one stats-pruned read of the rows with
        ``seq >= recent``, and one bloom lookup on ``commit``."""
        spark = self.spark
        *hits, other = oracle.sample(4, self.rng.getrandbits(64))
        miss = (hits[0][0], f"src/absent_{self.rng.randrange(10**6)}.py")
        commit = other[2]
        with self.tracer.span("read_round"):
            for repo, path, *_ in [*hits, miss]:
                got, dt, _ = self.timed(
                    "lake.table.read_key",
                    lambda r=repo, p=path: rows_of(table.read_key(spark, repo=r, path=p)),
                )
                self.lake["read_key"].append(dt)
                if got is not None:
                    self.expect(got == oracle.key(repo, path), f"read_key {repo} {path}")
                if self.tracer.enabled:
                    files = table.read_key(spark, repo=repo, path=path).inputFiles()
                    self.read_key_files.append(len(files))
            for kind, where, expected in (
                ("range", [("seq", ">=", recent)], lambda: oracle.seq_at_least(recent)),
                ("bloom", [("commit", "=", commit)], lambda: oracle.commit_eq(commit)),
            ):
                got, dt, _ = self.timed(
                    "lake.table.read", lambda w=where: rows_of(table.read(spark, where=w)),
                    kind=kind,
                )
                self.lake[kind].append(dt)
                if got is not None:
                    self.expect(got == expected(), f"read {kind} {where}")
                if self.tracer.enabled:
                    files = [urlparse(f).path for f in table.read(spark, where=where).inputFiles()]
                    n_live = len(live_files(table.current_snapshot())) or 1
                    self.scans.append((len(files), sum(os.path.getsize(f) for f in files),
                                       1.0 - len(files) / n_live))

    def dml_step(self, table: LakeTable, oracle: Oracle, tag: str) -> None:
        """Merge a small source (new payloads for existing keys, plus new
        keys), then delete one other key; the oracle applies both in
        lockstep. Then read the change feed of the step and check it."""
        spark = self.spark
        n_rows = self.size["merge_rows"]
        n_upd = int(n_rows * MERGE_UPDATE_SHARE)
        rng = self.rng
        *updated, victim = oracle.sample(n_upd + 1, rng.getrandbits(64))
        top = oracle.max_seq()
        src = [
            (r, p, s, f"{rng.getrandbits(160):040x}", rng.choice(synth.LANGS),
             f"def merged_{tag}_{i}():\n    return {rng.random()!r}\n")
            for i, (r, p, _, s) in enumerate(updated)
        ]
        src += [
            (f"org-{i % 10}/repo-new-{tag}", f"src/merged_{i}.py", top + 1 + i,
             f"{rng.getrandbits(160):040x}", rng.choice(synth.LANGS), f"def new_{tag}_{i}(): pass\n")
            for i in range(n_rows - n_upd)
        ]
        v0 = table.current_snapshot()["version"]
        oracle.snapshot()
        src_df = normalize_change_events(spark.createDataFrame(
            src, "repo string, path string, seq long, commit string, lang string, content string"))
        update = {c: F.col(f"s.{c}")
                  for c in ("commit", "lang", "content", "content_sha", "size_bytes")}
        with self.tracer.span("dml_step"):
            res, merge_w = self.timed_write(
                table, "lake.table.merge_into",
                lambda: table.merge_into(spark, src_df, f"merge:{tag}", when_matched_update=update),
            )
            oracle.merge(src)
            if res is not None:
                self.expect(res.matched == n_upd,
                            f"merge {tag}: matched {res.matched}, expected {n_upd}")
                self.dml_matched += res.matched
                self.dml_buckets += res.buckets_rewritten
            res, delete_w = self.timed_write(
                table, "lake.table.delete_where",
                lambda: table.delete_where(
                    spark, [("repo", "=", victim[0]), ("path", "=", victim[1])], f"delete:{tag}"),
            )
            oracle.delete(victim[0], victim[1])
            if res is not None:
                self.expect(res.matched == 1, f"delete {tag}: matched {res.matched}, expected 1")
                self.dml_matched += res.matched
                self.dml_buckets += res.buckets_rewritten
        self.lake["merge"].append(merge_w.seconds)
        self.lake["delete"].append(delete_w.seconds)
        self.dml_steps.append(merge_w + delete_w)
        changes, dt, _ = self.timed(
            "lake.table.read_changes",
            lambda: sorted(tuple(r) for r in table.read_changes(spark, v0)
                           .select("repo", "path", "_change_type").collect()),
        )
        self.lake["changes"].append(dt)
        if changes is not None:
            expected = oracle.changes()
            self.expect(changes == expected,
                        f"read_changes {tag}: {len(changes)} rows, oracle {len(expected)}")
            self.changes_rows.append(len(changes))

    def lake_phase(self, table: LakeTable, oracle: Oracle, dml: bool) -> None:
        """Two read rounds, with a DML step and its change feed between
        them when ``dml`` is set."""
        recent = oracle.max_seq() - self.size["recent"]
        self.read_round(table, oracle, recent)
        if dml:
            self.dml_step(table, oracle, "0")
        self.read_round(table, oracle, recent)

    # -------------------------------------------------------------- gates

    def gate(self, table: LakeTable, oracle: Oracle) -> str:
        """Full-table equality with the oracle and the checksum audit, as
        two attempted operations. Returns the table digest."""
        dump = self.path("gate")
        digest = ""
        with self.tracer.span("oracle.gate"):
            self.out.attempted += 2
            try:
                checked(table.read(self.spark)).write.parquet(dump)
                missing, extra, examples = oracle.diff_dump(dump)
                self.expect(missing == 0 and extra == 0,
                            f"gate: {missing} rows missing, {extra} unexpected; e.g. {examples}")
                digest = dump_digest(dump)
            except Exception:
                self.fail(f"gate: {traceback.format_exc()}")
            try:
                bad = table.verify_bucket_checksums(self.spark)
                self.expect(bad == [], f"gate: checksum mismatch in buckets {bad}")
            except Exception:
                self.fail(f"gate checksums: {traceback.format_exc()}")
        shutil.rmtree(dump, ignore_errors=True)
        return digest

    # ------------------------------------------------------------ sources

    def sources_probe(self, parquet_seg: str, envelope_seg: str) -> None:
        """Time the source layers alone, as ``noop``-sink actions over one
        segment: parquet scan + normalize, and envelope decode."""
        spark = self.spark
        L = self.out.layers
        with self.tracer.span("sources.scan_normalize"):
            t0 = time.perf_counter()
            normalize_change_events(spark.read.schema(self.schema).parquet(parquet_seg)) \
                .write.format("noop").mode("overwrite").save()
            L["sources.scan_normalize_s"] = (time.perf_counter() - t0, "s")
        with self.tracer.span("sources.envelope_decode"):
            t0 = time.perf_counter()
            changes, quarantine = parse_cdc_envelope(
                spark.read.text(envelope_seg), corpus.ROW_DDL, key_cols=corpus.KEY_COLS
            )
            changes.write.format("noop").mode("overwrite").save()
            L["sources.envelope_decode_s"] = (time.perf_counter() - t0, "s")
        L["sources.quarantined"] = (quarantine.count(), "count")


# ---------------------------------------------------------------- set-up


def setup_reps(run: Run, generate):
    """Generate the workload's inputs SETUP_REPS times into separate
    directories; keep the last, record every generation's time."""
    times = []
    result = None
    for i in range(SETUP_REPS):
        d = run.path(f"setup{i}")
        with run.tracer.span("setup.generate", rep=i):
            t0 = time.perf_counter()
            result = generate(d)
            times.append(time.perf_counter() - t0)
        if i < SETUP_REPS - 1:
            shutil.rmtree(d, ignore_errors=True)
    run.out.info["setup_generate_s"] = times
    return result


def prepare(run: Run, fn):
    """Run the one-off part of set-up (standing-table build, warm-up of
    the measured paths); its wall is part of setup_s."""
    with run.tracer.span("setup.prepare"):
        t0 = time.perf_counter()
        result = fn()
        run.out.info["prepare_s"] = time.perf_counter() - t0
    return result


def warm_lake(run: Run, table: LakeTable, oracle: Oracle, dml: bool = False) -> None:
    """A read round (and with ``dml`` a DML step) on a table the
    measurement does not use, checked against ``oracle`` (which the
    DML changes), with its own records; its operations still count as
    attempted (and failed)."""
    scratch = Run(run.spark, Tracer(run.spark, False, "warm"), run.scratch, run.seed + 1,
                  run.size)
    scratch.read_round(table, oracle, oracle.max_seq() - run.size["recent"])
    if dml:
        scratch.dml_step(table, oracle, "warm")
    run.out.attempted += scratch.out.attempted
    run.out.failed += scratch.out.failed


def compact_table(run: Run, table: LakeTable) -> Write:
    files_in = len(live_files(table.current_snapshot()))
    _, w = run.timed_write(table, "lake.table.compact", lambda: table.compact(run.spark))
    run.compact = {"s": w.seconds, "files_in": files_in,
                   "files_out": len(live_files(table.current_snapshot())), "bytes": w.bytes}
    return w


def replay_segments(run: Run, table: LakeTable, segs: list[str], tag: str):
    return ReplayEngine(table, normalize=normalize_change_events).replay_files(
        run.spark, [(f"{tag}:{i}", [s]) for i, s in enumerate(segs)], schema=run.schema
    )


def apply_envelopes(run: Run, table: LakeTable, env_dir: str, batch_id: str):
    changes, _ = parse_cdc_envelope(
        run.spark.read.text(env_dir), corpus.ROW_DDL, key_cols=corpus.KEY_COLS
    )
    return table.apply_batch(run.spark, normalize_change_events(changes), batch_id)


# ------------------------------------------------------------- workloads


def bulk_replay(run: Run) -> None:
    sz = run.size
    n, k = sz["events"], sz["segments"]
    seg_sizes = [n // k] * (k - 1) + [n - (n // k) * (k - 1)]
    segs = setup_reps(run, lambda d: corpus.write_segments(
        run.spark, os.path.join(d, "events"), n, seg_sizes, sz["n_repos"], run.seed))

    oracle = Oracle(segs)

    def warm() -> None:
        # one whole replay into a throwaway table: the first-write and
        # the merge path compile, and the JIT sees the measured volume
        # before the clock starts. A read round on it warms the lake
        # phase, which only traced runs have.
        table = LakeTable(run.path("warm"))
        replay_segments(run, table, segs, "warm")
        if run.tracer.enabled:
            warm_lake(run, table, oracle)
        shutil.rmtree(run.path("warm"), ignore_errors=True)

    prepare(run, warm)
    table = None
    with run.tracer.span("window") as window:
        c0 = run.probe.sample()
        for i in range(BULK_REPLAYS):
            if table is not None:
                shutil.rmtree(table.path, ignore_errors=True)
            table = LakeTable(run.path(f"replay{i}"))
            stats, w = run.timed_write(table, "streaming.replay",
                                       lambda t=table: replay_segments(run, t, segs, "segment"))
            run.ingest.append(w)
            if stats is not None:
                run.apply_stats.extend(stats)
                run.expect(stats[-1].rows_after == oracle.count(),
                           f"replay {len(run.ingest)}: {stats[-1].rows_after} rows, "
                           f"oracle {oracle.count()}")
        # a copy-on-write replay leaves nothing to fold: compact() must
        # be a no-op, and its cost is the maintenance check alone
        compact_table(run, table)
        if run.tracer.enabled:
            run.lake_phase(table, oracle, dml=False)
        c1 = run.probe.sample()
        peak_mem_mb = run.probe.peak_mem_mb()
    run.out.info["digest"] = run.gate(table, oracle)
    finish(run, table, oracle, window, c0, c1,
           events_per_s=n / median([w.seconds for w in run.ingest]),
           write_p50_s=median([s.seconds for s in run.apply_stats]),
           write_bytes_per_event=median([w.bytes for w in run.ingest]) / n,
           peak_mem_mb=peak_mem_mb)
    if run.tracer.enabled:
        env = corpus.write_envelopes(run.spark, segs[:1], run.path("probe_env"),
                                     max_seq=PROBE_EVENTS)
        run.sources_probe(segs[0], env[0])
    oracle.close()


def trickle_ingest(run: Run) -> None:
    sz = run.size
    k = sz["commit_events"]
    # commit 0 warms the path up; commits 1.. are GROUPS escalation groups
    seg_sizes = [sz["standing"]] + [k] * (1 + TRICKLE_COMMITS)

    def generate(d: str):
        # one parquet file per commit-sized segment: trickle commits
        # read the envelopes, not these files
        segs = corpus.write_segments(run.spark, os.path.join(d, "events"), sum(seg_sizes),
                                     seg_sizes, sz["n_repos"], run.seed, files=1)
        return segs, corpus.write_envelopes(run.spark, segs[1:], os.path.join(d, "envelopes"))

    segs, envs = setup_reps(run, generate)

    def build_and_warm() -> LakeTable:
        table = LakeTable(run.path("table"), **TRICKLE_OPTS)
        replay_segments(run, table, segs[:1], "standing")
        if warm_oracle is not None:
            # the lake phase's reads and DML, on a copy (DML on the
            # measured table would advance bucket watermarks past the
            # trickle events and fold their deltas)
            shutil.copytree(table.path, run.path("warm"))
            warm_lake(run, LakeTable(run.path("warm"), **TRICKLE_OPTS), warm_oracle, dml=True)
            shutil.rmtree(run.path("warm"), ignore_errors=True)
        warm = apply_envelopes(run, table, envs[0], "trickle:0")
        run.expect(warm.mode == "mor", f"trickle warm-up commit ran as {warm.mode}, not mor")
        return table

    warm_oracle = Oracle(segs[:1]) if run.tracer.enabled else None
    table = prepare(run, build_and_warm)
    if warm_oracle is not None:
        warm_oracle.close()
    oracle = Oracle(segs)
    with run.tracer.span("window") as window:
        c0 = run.probe.sample()
        for i in range(1, 1 + TRICKLE_COMMITS):
            stats, w = run.timed_write(
                table, "lake.table.apply_batch",
                lambda e=envs[i], i=i: apply_envelopes(run, table, e, f"trickle:{i}"),
            )
            run.ingest.append(w)
            if stats is not None:
                run.apply_stats.append(stats)
        compact_w = compact_table(run, table)
        if run.tracer.enabled:
            run.lake_phase(table, oracle, dml=True)
        c1 = run.probe.sample()
        peak_mem_mb = run.probe.peak_mem_mb()
    events = sum(s.events_in for s in run.apply_stats)
    run.expect(events == TRICKLE_COMMITS * k,
               f"trickle: {events} events applied, expected {TRICKLE_COMMITS * k}")
    # each group's commit modes: merge-on-read until a bucket holds
    # MAX_DELTAS deltas, then one copy-on-write escalation, then
    # merge-on-read again. Other modes mean the run measured other work:
    # a failed operation.
    modes = "".join(s.mode[0] for s in run.apply_stats)
    run.out.info["commit_modes"] = modes
    expected_modes = GROUP_MODES * GROUPS
    run.expect(modes == expected_modes,
               f"trickle commit modes {modes!r}, expected {expected_modes!r}")
    run.out.info["digest"] = run.gate(table, oracle)
    finish(run, table, oracle, window, c0, c1,
           events_per_s=events / (sum(w.seconds for w in run.ingest) + compact_w.seconds),
           write_p50_s=median([w.seconds for w in run.ingest]),
           write_bytes_per_event=(sum(w.bytes for w in run.ingest) + compact_w.bytes)
           / max(events, 1),
           peak_mem_mb=peak_mem_mb)
    if run.tracer.enabled:
        run.sources_probe(segs[0], envs[0])
    oracle.close()


# ------------------------------------------------------------- metrics


def finish(run: Run, table: LakeTable, oracle: Oracle, window, c0: dict, c1: dict,
           events_per_s: float, write_p50_s: float, write_bytes_per_event: float,
           peak_mem_mb: float) -> None:
    """Fill the end-to-end and (traced runs) per-layer metrics."""
    out = run.out
    files = walk(table.path)
    out.info["walls"] = {"ingest": [w.seconds for w in run.ingest],
                         "commits": [s.seconds for s in run.apply_stats], **run.lake}
    out.e2e = {
        "events_per_s": (events_per_s, "1/s"),
        "write_p50_s": (write_p50_s, "s"),
        "write_bytes_per_event": (write_bytes_per_event, "B"),
        "stored_bytes_per_row": (sum(files.values()) / max(oracle.count(), 1), "B"),
        "peak_mem_mb": (peak_mem_mb, "MB"),
    }
    if window is None:
        return
    st = run.apply_stats
    phases = {m: sum(getattr(s, f"t_{m}") for s in st) for m in ("stats", "write", "checksum")}
    commit_s = sum(s.seconds for s in st)
    events_in = sum(s.events_in for s in st)
    cow = [s for s in st if s.mode == "cow"]
    mor = [s for s in st if s.mode == "mor"]
    writes = run.ingest + run.dml_steps
    ledger = [v for p, v in files.items() if p.startswith("_ledger/v")]
    window_s = window["end"] - window["start"]
    cores = run.spark.sparkContext.defaultParallelism
    totals = run.tracer.spark_totals(window["id"])
    selfs = run.tracer.self_times(window["id"])
    residual = selfs.get("window", 0.0)
    jvm_cpu = c1["jvm_cpu_s"] - c0["jvm_cpu_s"]
    # the lake client's throughput if every call took its operation's
    # median: robust to a few slow calls, and a slower operation of any
    # kind still lowers it by its share of the mix
    lake_ops = sum(len(v) for v in run.lake.values())
    lake_s = sum(len(v) * median(v) for v in run.lake.values())
    out.layers.update({
        "lake.ops_per_s": (lake_ops / lake_s, "1/s"),
        "apply.commits": (len(st), "count"),
        "apply.commit_s": (commit_s, "s"),
        "apply.cow_commit_s": (sum(s.seconds for s in cow), "s"),
        "apply.mor_commit_s": (sum(s.seconds for s in mor), "s"),
        "apply.stats_s": (phases["stats"], "s"),
        "apply.write_s": (phases["write"], "s"),
        "apply.checksum_s": (phases["checksum"], "s"),
        "apply.other_s": (commit_s - sum(phases.values()), "s"),
        "apply.commit_attempts": (sum(s.commit_attempts for s in st), "count"),
        "apply.cow_escalations": (len(cow) if table.merge_mode == "auto" else 0, "count"),
        "apply.mor_share": (len(mor) / len(st) if st else 0.0, "ratio"),
        "apply.useful_ratio": (sum(s.upserts + s.deletes for s in st) / events_in
                               if events_in else 0.0, "ratio"),
        "apply.buckets_touched": (sum(s.buckets_touched for s in st), "count"),
        "read_key.p50_s": (median(run.lake["read_key"]), "s"),
        "read_key.files_scanned": (mean(run.read_key_files), "count"),
        "scan.p50_s": (median(run.lake["range"] + run.lake["bloom"]), "s"),
        "scan.files_scanned": (mean([s[0] for s in run.scans]), "count"),
        "scan.bytes_scanned": (mean([s[1] for s in run.scans]), "B"),
        "scan.pruned_ratio": (mean([s[2] for s in run.scans]), "ratio"),
        "changes.p50_s": (median(run.lake["changes"]), "s"),
        "changes.rows": (mean(run.changes_rows), "count"),
        "dml.merge_p50_s": (median(run.lake["merge"]), "s"),
        "dml.delete_p50_s": (median(run.lake["delete"]), "s"),
        "dml.matched": (run.dml_matched, "count"),
        "dml.buckets_rewritten": (run.dml_buckets, "count"),
        "dml.bytes_written": (sum(w.bytes for w in run.dml_steps), "B"),
        "compact.s": (run.compact.get("s", 0.0), "s"),
        "compact.files_in": (run.compact.get("files_in", 0), "count"),
        "compact.files_out": (run.compact.get("files_out", 0), "count"),
        "compact.bytes_rewritten": (run.compact.get("bytes", 0), "B"),
        "storage.bytes_written": (mean([w.bytes for w in writes]), "B"),
        "storage.files_written": (mean([w.files for w in writes]), "count"),
        "storage.ledger_bytes": (mean(ledger), "B"),
        "storage.sidecar_bytes": (sum(v for p, v in files.items() if p.endswith(".stats.json")),
                                  "B"),
        "storage.live_files": (len(live_files(table.current_snapshot())), "count"),
        "storage.total_files": (sum(1 for p in files if p.startswith("data/")), "count"),
        "jvm.codegen_compiles": (c1["codegen_compiles"] - c0["codegen_compiles"], "count"),
        "jvm.codegen_s": (c1["codegen_s"] - c0["codegen_s"], "s"),
        "jvm.gc_s": (c1["gc_s"] - c0["gc_s"], "s"),
        "jvm.cpu_s": (jvm_cpu, "s"),
        "jvm.cpu_busy_share": (jvm_cpu / (window_s * cores), "ratio"),
        "driver.py_cpu_s": (c1["py_cpu_s"] - c0["py_cpu_s"], "s"),
        "spark.jobs": (totals["jobs"], "count"),
        "spark.stages": (totals["stages"], "count"),
        "spark.tasks": (totals["tasks"], "count"),
        "spark.failed_tasks": (totals["failed_tasks"], "count"),
        "spark.jobs_per_write": (mean([w.jobs for w in writes]), "count"),
        "trace.residual_s": (residual, "s"),
        "trace.covered_share": (1.0 - residual / window_s, "ratio"),
    })
    out.info["self_s"] = selfs
    out.info["window_s"] = window_s


def run_workload(spark: SparkSession, name: str, seed: int, trace: bool, scratch: str,
                 scale: str = "full", run_id: str = "run", session_s: float = 0.0) -> Outcome:
    """Run one workload end to end and return what it measured.
    ``session_s`` is how long the session took to start; setup_s adds
    the median input generation and the one-off preparation to it."""
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
    tracer = Tracer(spark, trace, run_id)
    run = Run(spark, tracer, scratch, seed, SIZES[scale][name])
    {"bulk_replay": bulk_replay, "trickle_ingest": trickle_ingest}[name](run)
    info = run.out.info
    run.out.e2e["setup_s"] = (session_s + median(info["setup_generate_s"]) + info["prepare_s"], "s")
    if trace:
        run.out.layers["trace.overhead_s"] = (tracer.overhead_s, "s")
        run.out.info["spans"] = tracer.spans
    return run.out
