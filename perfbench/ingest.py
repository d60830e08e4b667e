"""The two ingest workloads: ``bulk`` replay and ``trickle`` with reads.

Both are closed loops: the next microbatch is cut only after the previous
one has committed, as a Structured Streaming trigger with
``maxOffsetsPerTrigger`` does. After each trickle commit the loop reads
the table back the way a consumer would: one point ``lookup`` of a fixed
key set and the change feed of the epoch just committed, each
materialized.

All events come from ``sources.changelog.changelog`` (30% of events on one
hot repo). The workload seed renames the repos, which moves the hot keys
and every key's bucket; the program only ever sees the generated events,
written once as parquet slices during set-up.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.engine import (
    apply_batch,
    cdc_transform_chain,
    create_repo_table,
    events_to_merge_source,
)
from kafka_connect_plugins_spark.plans.lake_table import LakeTable, digest_components
from kafka_connect_plugins_spark.sources.changelog import changelog, expected_final_state

from spans import Tracer

STATE_COLS = ["repo", "path", "commit", "lang", "content"]

# Epochs of the timed shape run before timing, on other inputs.
WARM_EPOCHS = 1
# Bulk epoch walls fell over the first six epochs on a cold JVM, as the
# parquet scan path warmed; warm-up epochs from the generator did not
# shorten that, so bulk warms up on epochs that read parquet.
BULK_WARM_EPOCHS = 2

# Input shapes. ``full`` is what the benchmark measures; ``tiny`` only
# exercises the code paths (self-test).
SIZES = {
    "full": {
        "buckets": 16,
        "bulk_events": 50_000, "bulk_repos": 50, "bulk_paths": 100, "bulk_slices": 3,
        "load_events": 40_000, "trickle_events": 2_000,
        "trickle_repos": 100, "trickle_paths": 500, "trickle_slices": 12,
        "lookup_keys": 20,
    },
    "tiny": {
        "buckets": 8,
        "bulk_events": 2_000, "bulk_repos": 10, "bulk_paths": 20, "bulk_slices": 2,
        "load_events": 4_000, "trickle_events": 500,
        "trickle_repos": 20, "trickle_paths": 50, "trickle_slices": 12,
        "lookup_keys": 5,
    },
}


def seeded_changelog(spark: SparkSession, seed: int, n: int, repos: int, paths: int,
                     partitions: int | None = None) -> DataFrame:
    """``changelog`` events with every repo renamed under a seed prefix.

    The rename changes the key bytes, so the hot repo and every key land
    in other buckets per seed; counts, skew and op mix stay the same.
    """
    ev = changelog(spark, n, num_repos=repos, paths_per_repo=paths, num_partitions=partitions)
    repo = F.concat(F.lit(f"org/s{seed}/"), F.substring_index(F.col("value.repo"), "/", -1))
    return ev.select(
        "topic", "partition", "offset", "timestamp",
        F.concat_ws("|", repo, F.col("value.path")).alias("key"),
        F.create_map(F.lit("account_id"), repo).alias("headers"),
        F.col("value").withField("repo", repo).alias("value"),
    )


def write_slices(events: DataFrame, out_dir: str, slice_col) -> None:
    """Write events as ``out_dir/slice=<k>/`` parquet, one file per input split.

    The generator's range splits are aligned to slice boundaries by the
    caller, so no shuffle is needed and each slice gets whole splits.
    """
    events.withColumn("slice", slice_col).write.partitionBy("slice").mode(
        "overwrite").parquet(out_dir)


def read_slice(spark: SparkSession, in_dir: str, k: int) -> DataFrame:
    return spark.read.parquet(os.path.join(in_dir, f"slice={k}"))


def lookup_keys(seed: int, repos: int, paths: int, n: int) -> list[dict]:
    """A fixed key set per seed: a quarter on the hot repo, the rest spread."""
    keys = []
    for i in range(n):
        r = 0 if i < max(1, n // 4) else 1 + (i * 7 + seed) % (repos - 1)
        p = (i * 13 + seed) % paths
        keys.append({
            "repo": f"org/s{seed}/repo-{r}",
            "path": f"src/module_{p % 20}/file_{p}.txt",
        })
    return keys


def state_digest_of(df: DataFrame) -> tuple:
    """Order-insensitive (rows, digest) of the live-state columns."""
    row = digest_components(df.select(*STATE_COLS)).first()
    return (row["n"], row["digest_a"], row["digest_b"])


def table_bytes(root: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(root, "data", "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def snapshot_bytes(table: LakeTable) -> int:
    """Bytes of the data files the current snapshot references."""
    m = table.manifest()
    total = 0
    for b, ver in m["buckets"].items():
        for p in glob.glob(os.path.join(table.root, "data", f"v{ver}", f"*={b}", "*")):
            total += os.path.getsize(p)
    return total


def consume(df: DataFrame) -> int:
    """Materialize every column of ``df`` and return its row count."""
    row = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")).first()
    return int(row["n"])


@dataclass
class Ops:
    """Counts of attempted and failed operations and the failures seen."""
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def run(self, what: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None


@dataclass
class Loop:
    """Per-epoch samples of one measured phase."""
    commit_s: list = field(default_factory=list)
    lookup_s: list = field(default_factory=list)
    changefeed_s: list = field(default_factory=list)
    changefeed_rows: list = field(default_factory=list)
    events: int = 0
    stats: list = field(default_factory=list)      # MergeStats per epoch
    bytes_written: list = field(default_factory=list)
    chain_s: list = field(default_factory=list)
    prepare_s: list = field(default_factory=list)
    apply_s: list = field(default_factory=list)
    epoch_s: list = field(default_factory=list)     # whole closed-loop step


class IngestRun:
    """Inputs, tables and the measured loop of one ingest workload."""

    def __init__(self, workload: str, seed: int, size: str, work: str, ops: Ops,
                 seconds: float):
        self.workload = workload
        self.seed = seed
        self.cfg = SIZES[size]
        self.work = work
        self.ops = ops
        self.fail_epoch = None    # serial of an epoch made to fail (self-test)
        self.in_dir = os.path.join(work, "input")
        self.tables = os.path.join(work, "tables")
        self.epoch = 0            # next slice / epoch number
        self.serial = 0           # epochs run, names the bulk tables
        self.applied = []         # input slices applied to the trickle table
        self.table = None         # the trickle table
        self.bulk_last = {}       # slice -> root of its latest bulk table
        self.last_root = None     # table the latest epoch went into
        self.setup_parts = {}     # set-up step -> seconds
        c = self.cfg
        if workload == "bulk":
            self.repos, self.paths = c["bulk_repos"], c["bulk_paths"]
        else:
            self.repos, self.paths = c["trickle_repos"], c["trickle_paths"]
        self.keys = lookup_keys(seed, self.repos, self.paths, c["lookup_keys"])
        # enough trickle slices for two epochs a second of the untraced loop
        # and the settling and traced epochs of a traced run
        self.slices = max(c["trickle_slices"], math.ceil(2 * seconds) + 6)

    # ------------------------------------------------------------------ set-up
    def setup(self, spark: SparkSession, files: int) -> None:
        """Generate this seed's inputs, warm up, and (trickle) load the table.

        Writing the timed inputs runs beside the warm-up, each in its own
        thread, so their first-run JVM costs overlap. ``bulk`` warms up on
        throwaway tables and parquet input. ``trickle`` warms up on its initial
        load (straight from the generator), one epoch of the timed shape
        into the loaded table and one read of each kind; the timed epochs
        read other slices.
        """
        from concurrent.futures import ThreadPoolExecutor

        def timed(fn, *args):
            t = time.perf_counter()
            fn(*args)
            return time.perf_counter() - t

        t0 = time.perf_counter()
        with ThreadPoolExecutor(2) as pool:
            inputs = pool.submit(timed, self._write_inputs, spark, files)
            warm = pool.submit(timed, self._warm_up if self.workload == "bulk" else self._load,
                               spark)
            self.setup_parts = {"warm_up_s": warm.result(), "inputs_s": inputs.result()}
        self.setup_parts["inputs_and_warm_up_s"] = time.perf_counter() - t0

    def _write_inputs(self, spark: SparkSession, files: int) -> None:
        """Bulk: slices 0.. of ``bulk_events``. Trickle: slices of
        ``trickle_events`` after the load's offsets, numbered from the first
        timed epoch id."""
        c = self.cfg
        if self.workload == "bulk":
            per, k = c["bulk_events"], c["bulk_slices"]
            ev = seeded_changelog(spark, self.seed, per * k, self.repos, self.paths,
                                  partitions=k * files)
            write_slices(ev, self.in_dir, (F.col("offset") / per).cast("int"))
            return
        load, per, k = c["load_events"], c["trickle_events"], self.slices
        ev = seeded_changelog(spark, self.seed, load + per * k, self.repos, self.paths,
                              partitions=load // per + k)
        write_slices(ev.filter(F.col("offset") >= load), self.in_dir,
                     ((F.col("offset") - load) / per).cast("int") + WARM_EPOCHS + 1)

    def _load_events(self, spark: SparkSession) -> DataFrame:
        c = self.cfg
        return seeded_changelog(spark, self.seed, c["load_events"], self.repos, self.paths)

    def _load(self, spark: SparkSession) -> None:
        """Trickle: create the table and apply the initial load as epoch 0,
        except its last ``WARM_EPOCHS`` x ``trickle_events`` events, which
        follow as warm-up epochs of the timed shape, each read back."""
        per = self.cfg["trickle_events"]
        self.table = create_repo_table(spark, os.path.join(self.tables, "trickle"),
                                       self.cfg["buckets"])
        events = self._load_events(spark)
        cut = self.cfg["load_events"] - WARM_EPOCHS * per
        apply_batch(self.table, events.filter(F.col("offset") < cut), epoch_id=0,
                    stream_id="trickle")
        for e in range(1, WARM_EPOCHS + 1):
            lo = cut + (e - 1) * per
            v0 = self.table.manifest()["version"]
            apply_batch(self.table, events.filter((F.col("offset") >= lo)
                                                  & (F.col("offset") < lo + per)),
                        epoch_id=e, stream_id="trickle")
            self.table.lookup(self.keys).collect()
            consume(self.table.read_changes(v0))
        self.epoch = WARM_EPOCHS + 1

    def _warm_up(self, spark: SparkSession) -> None:
        """Bulk: epochs of the timed shape on a throwaway input and tables.

        The input is written as parquet and read back, as the timed epochs
        read theirs.
        """
        c = self.cfg
        root = os.path.join(self.work, "warm")
        seeded_changelog(spark, self.seed + 1_000_003, c["bulk_events"], self.repos,
                         self.paths).write.parquet(os.path.join(root, "input"))
        for e in range(BULK_WARM_EPOCHS):
            t = create_repo_table(spark, os.path.join(root, f"t{e}"), c["buckets"])
            apply_batch(t, spark.read.parquet(os.path.join(root, "input")), epoch_id=0,
                        stream_id="warm")
        shutil.rmtree(root, ignore_errors=True)

    # -------------------------------------------------------------- one epoch
    def has_next(self, reserve: int = 0) -> bool:
        """Whether an input slice is left for another epoch, with ``reserve``
        more left after it. Bulk epochs cycle over their slices."""
        return self.workload == "bulk" or self.epoch + reserve <= self.slices + WARM_EPOCHS

    def _next_target(self, spark: SparkSession):
        """The slice to apply next and the table it goes into."""
        if self.workload == "bulk":
            k = self.epoch % self.cfg["bulk_slices"]
            root = os.path.join(self.tables, f"bulk{self.serial}")
            return k, create_repo_table(spark, root, self.cfg["buckets"]), 0
        return self.epoch, LakeTable.load(spark, self.table.root), self.epoch

    def epoch_once(self, spark: SparkSession, tr: Tracer, loop: Loop, traced: bool) -> None:
        """One closed-loop step: commit the next slice; trickle then reads."""
        t0 = time.perf_counter()
        k, table, epoch_id = self._next_target(spark)
        src = read_slice(spark, self.in_dir, k)
        if self.serial == self.fail_epoch:
            src = src.drop("key")  # apply_batch fails: the chain needs the key
        v0 = table.manifest()["version"]
        before = table_bytes(table.root) if traced else 0
        if traced:
            self._traced_commit(tr, loop, table, src, epoch_id)
            loop.bytes_written.append(table_bytes(table.root) - before)
        else:
            with tr.span("engine.apply_batch"):
                st = self.ops.run(f"epoch {self.epoch}", lambda: apply_batch(
                    table, src, epoch_id=epoch_id, stream_id=self.workload))
            loop.commit_s.append(tr.walls["engine.apply_batch"][-1])
            if st is not None:
                loop.stats.append(st)
        n_events = self.cfg["bulk_events"] if self.workload == "bulk" else self.cfg["trickle_events"]
        loop.events += n_events

        if self.workload == "trickle":
            with tr.span("plans.lookup"):
                self.ops.run(f"lookup {self.epoch}", lambda: table.lookup(self.keys).collect())
            loop.lookup_s.append(tr.walls["plans.lookup"][-1])
            with tr.span("plans.read_changes"):
                rows = self.ops.run(f"changefeed {self.epoch}",
                                    lambda: consume(table.read_changes(v0)))
            loop.changefeed_s.append(tr.walls["plans.read_changes"][-1])
            loop.changefeed_rows.append(rows)
        loop.epoch_s.append(time.perf_counter() - t0)
        if traced:
            # after the epoch, so that it does not warm the commit's input
            with tr.span("operators.chain"):
                self.ops.run("chain", lambda: events_to_merge_source(
                    cdc_transform_chain().apply(src)).write.format("noop").mode("overwrite").save())
            loop.chain_s.append(tr.walls["operators.chain"][-1])
        if self.workload == "trickle":
            self.applied.append(k)
        else:
            old = self.bulk_last.get(k)
            if old:
                shutil.rmtree(old, ignore_errors=True)
            self.bulk_last[k] = table.root
        self.last_root = table.root
        self.epoch += 1
        self.serial += 1

    def _traced_commit(self, tr: Tracer, loop: Loop, table: LakeTable, src: DataFrame,
                       epoch_id: int) -> None:
        """The commit decomposed into its layers, each call its own span."""
        with tr.span("engine.epoch"):
            source = events_to_merge_source(cdc_transform_chain().apply(src))
            with tr.span("plans.merge_prepare"):
                prep = self.ops.run("merge_prepare", lambda: table.merge_prepare(
                    source, lsn_col="_lsn", tombstone_col="_tombstone",
                    lineage_col="_src_partition"))
            with tr.span("plans.merge_apply"):
                st = None if prep is None else self.ops.run("merge", lambda: table.merge(
                    lsn_col="_lsn", tombstone_col="_tombstone", epoch_id=epoch_id,
                    stream_id=self.workload, lineage_col="_src_partition", prep=prep))
        loop.prepare_s.append(tr.walls["plans.merge_prepare"][-1])
        loop.apply_s.append(tr.walls["plans.merge_apply"][-1])
        loop.commit_s.append(tr.walls["engine.epoch"][-1])
        if st is not None:
            loop.stats.append(st)

    # ------------------------------------------------------------------ checks
    def check(self, spark: SparkSession, ops: Ops, problems: list) -> None:
        """Compare the latest table with the oracle over the events it holds."""
        table = LakeTable.load(spark, self.last_root)
        if self.workload == "bulk":
            k = next(k for k, r in self.bulk_last.items() if r == self.last_root)
            events = read_slice(spark, self.in_dir, k)
        else:
            events = self._load_events(spark).unionByName(spark.read.parquet(
                *[os.path.join(self.in_dir, f"slice={k}") for k in self.applied]))
        self._same_state(ops, problems, self.workload, table, expected_final_state(events))

    def _same_state(self, ops: Ops, problems: list, what: str, table: LakeTable,
                    want: DataFrame) -> None:
        """Table state and (trickle) the point lookup must match the oracle."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(2) as pool:
            exp = pool.submit(state_digest_of, want)
            got = ops.run(f"read {what}", lambda: state_digest_of(table.read()))
            exp = exp.result()
        ops.attempted += 1
        if got != exp:
            ops.failed += 1
            problems.append(f"{what}: table state {got} != oracle {exp}")
            return
        if self.workload == "bulk":
            return
        keys = table.spark.createDataFrame([(k["repo"], k["path"]) for k in self.keys],
                                           "repo string, path string")
        want_rows = sorted(tuple(r[c] for c in STATE_COLS) for r in
                           want.join(keys, ["repo", "path"], "left_semi").collect())
        got_rows = ops.run(f"lookup {what}", lambda: sorted(
            tuple(r[c] for c in STATE_COLS) for r in table.lookup(self.keys).collect()))
        ops.attempted += 1
        if got_rows != want_rows:
            ops.failed += 1
            problems.append(f"{what}: lookup returned {len(got_rows or [])} rows, "
                            f"oracle {len(want_rows)}")

    def snapshot_stats(self, spark: SparkSession) -> tuple[int, int]:
        """(bytes of the current snapshot, live rows) of the latest table."""
        table = LakeTable.load(spark, self.last_root)
        return snapshot_bytes(table), table.read().count()
