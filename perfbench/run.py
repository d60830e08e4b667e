"""CDC ingest benchmark: one workload, one fresh Spark application, one result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload bulk|trickle --seed N --seconds S --trace 0|1

Workloads (closed loop, next microbatch only after the previous commit):

* ``bulk``: each epoch replays a 50k-event slice over a 5k-key space
  into a fresh 16-bucket table; events far outnumber rows. Traced at
  ``local[4]``, the LWW stats phase took about 31% of a commit and the
  bucket write 61%, with executors about 15% busy: at this size Spark's
  per-job and per-task cost outweighs scan and shuffle work.
* ``trickle``: 2k-event epochs into one 16-bucket table loaded from 40k
  events over a 50k-key space; the table far outnumbers each epoch, and
  every epoch rewrites all buckets. Traced, the bucket write took about
  41% of an epoch, the two reads 42% and the stats phase 10%.

After each ``trickle`` commit the loop reads the table back: a 20-key
``lookup`` and the change feed of that epoch, each materialized. Commit
and reads together are one epoch of the closed loop.

``--trace 0`` measures for ``--seconds`` (and at least three epochs)
with nothing traced and reports the end-to-end metrics. ``--trace 1``
measures half the time untraced, then, in a second application with
Spark's event log on and one settling epoch, half the time (and at least
``TRACED_EPOCHS``) alternating an untraced epoch with a traced one, whose
every layer call is its own span and job group; it reports the per-layer
metrics. ``trace.overhead_frac`` compares the traced commits with the
untraced ones beside them. The traced ``bulk`` run also replays its
slices at ``local[1]`` after its own settling epoch (scaling efficiency,
digest identity); the traced ``trickle`` run also times the query-suite
subset (``suite.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value, unit). The line before it
carries the same run in more detail: every epoch's walls, set-up steps,
``merge_events_per_s``, ``commit_p50_s``, ``lookup_p50_s``,
``changefeed_p50_s``, ``peak_rss_mb``, ``error_rate`` and the errors. All
Spark and worker output goes to ``.perfbench_work/<workload>.log``.
Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"epoch_p50_s": "s", "events_per_s": "1/s", "setup_s": "s"}
LAYER_SPANS = ("operators.chain", "plans.merge_prepare", "plans.merge_apply",
               "plans.lookup", "plans.read_changes", "suite")
# traced epochs a traced run takes at least, each after an untraced one
TRACED_EPOCHS = 1
# Settling epochs after set-up. In ten bulk runs with one, the first timed
# epoch was still the slowest every time; trickle epochs showed no trend.
SETUP_SETTLE = {"bulk": 2, "trickle": 1}


def per_layer_units(queries) -> dict[str, str]:
    from spans import SPAN_COSTS

    units = {
        "operators.chain_s": "s", "operators.chain_events_per_s": "1/s",
        "plans.merge_prepare_s": "s", "plans.merge_apply_s": "s",
        "plans.phase.stats_s": "s", "plans.phase.write_s": "s", "plans.phase.commit_s": "s",
        "plans.rows_written": "count", "plans.dirty_bucket_frac": "frac",
        "plans.bytes_written_per_event": "B", "plans.table_bytes_per_live_row": "B",
        "plans.lookup_s": "s", "plans.read_changes_s": "s", "plans.read_changes_rows": "count",
        "engine.overhead_s": "s", "engine.scale_eff_1toN": "frac",
        "host.steal_frac": "frac", "host.peak_rss_mb": "MB", "trace.overhead_frac": "frac",
        "suite.s": "s",
    }
    units.update({f"suite.q.{q}_s": "s" for q in queries})
    for span in LAYER_SPANS:
        units.update({f"{span}.{k}": u for k, u in SPAN_COSTS.items()})
    return units


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- host side
def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over this process and its tree."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


class Stdio:
    """Send fds 1 and 2 (and so the JVM's and workers') to a log file.

    Spark's JVM and Python workers inherit the process's stdout; when that
    is a regular file their writes land over this process's own lines. The
    result is written through a private duplicate of the original stdout.
    """

    def __init__(self, log_path: str):
        sys.stdout.flush()
        sys.stderr.flush()
        self.out = os.fdopen(os.dup(1), "w", buffering=1)
        self.err = os.fdopen(os.dup(2), "w", buffering=1)
        fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC | os.O_APPEND, 0o644)
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        os.close(fd)

    def say(self, msg: str) -> None:
        self.err.write(f"[perfbench] {msg}\n")


# ------------------------------------------------------------------- spark
class Spark:
    """Fresh Spark applications in one JVM, all state under ``work``."""

    def __init__(self, work: str):
        self.work = work
        self.session = None
        for d in ("local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)

    def start(self, cores: int, eventlog: bool = False):
        from pyspark.sql import SparkSession

        self.stop_app()
        w = self.work
        b = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(f"perfbench-{cores}")
            .config("spark.sql.shuffle.partitions", str(2 * cores))
            .config("spark.default.parallelism", str(cores))
            .config("spark.driver.memory", "3g")
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={w}/tmp -Dderby.system.home={w} -XX:-UsePerfData")
            .config("spark.local.dir", f"{w}/local")
            .config("spark.sql.warehouse.dir", f"{w}/warehouse")
            .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.adaptive.enabled", "true")
            # as main.build_session: keep the LWW max_by aggregation hash-based
            .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
            .config("spark.eventLog.enabled", "true" if eventlog else "false")
            .config("spark.eventLog.dir", f"file://{w}/eventlog")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
        self.session = b.getOrCreate()
        self.session.sparkContext.setLogLevel("ERROR")
        return self.session

    def stop_app(self) -> None:
        if self.session is not None:
            self.session.stop()
            self.session = None

    def shutdown(self) -> None:
        """Stop the application, then the JVM and every process under us."""
        from pyspark import SparkContext

        try:
            self.stop_app()
        finally:
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            _reap()


def _reap() -> None:
    """Kill and wait for any process still under this one."""
    for pid in reversed(descendants(os.getpid())):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


# --------------------------------------------------------------- workloads
def measure(run, spark, tr, loop, seconds: float, traced: bool, min_epochs: int,
            reserve: int = 0) -> None:
    """Closed loop for at least ``seconds`` and at least ``min_epochs`` epochs,
    leaving ``reserve`` input slices unused."""
    end = time.perf_counter() + seconds
    n = 0
    while (time.perf_counter() < end or n < min_epochs) and run.has_next(reserve):
        run.epoch_once(spark, tr, loop, traced)
        n += 1


def settle(run, spark, epochs: int = 1) -> None:
    """Untimed epochs on the timed path.

    The first epoch there ran 30-50% slower than the next ones even after
    warm-up epochs on other inputs.
    """
    from ingest import Loop
    from spans import Tracer

    for _ in range(epochs):
        run.epoch_once(spark, Tracer(spark, False), Loop(), traced=False)


def run_workload(args, work: str, io: Stdio) -> dict:
    from ingest import IngestRun, Loop, Ops
    from spans import Tracer, stage_costs

    import suite

    cores = cpu_count()
    ops = Ops()
    problems: list[str] = []
    sp = Spark(work)
    run = IngestRun(args.workload, args.seed, args.size, work, ops, args.seconds)
    out: dict = {}
    try:
        t0 = time.perf_counter()
        spark = sp.start(cores)
        t_app = time.perf_counter() - t0
        run.setup(spark, files=cores)
        settle(run, spark, SETUP_SETTLE[args.workload])
        setup_s = time.perf_counter() - t0
        out["setup_parts"] = {"spark_s": t_app, **run.setup_parts}
        io.say(f"setup {setup_s:.1f}s {out['setup_parts']}")

        if args.inject_failure:
            run.fail_epoch = run.serial  # the first timed epoch
        seconds = args.seconds / 2 if args.trace else args.seconds
        steal0 = cpu_ticks()
        plain = Loop()
        # a traced run takes fewer samples per phase to stay inside its time
        measure(run, spark, Tracer(spark, False), plain, seconds, traced=False,
                min_epochs=1 if args.trace else 3,
                reserve=2 * TRACED_EPOCHS + 1 if args.trace else 0)
        rss = peak_rss_mb()
        io.say(f"untraced: {len(plain.commit_s)} epochs")
        out["plain"] = plain
        out["setup_s"] = setup_s
        out["peak_rss_mb"] = rss

        if args.trace:
            if args.workload == "bulk":
                # same slices at local[1]: scaling efficiency and digest identity
                wide = {k: table_digest(spark, r) for k, r in run.bulk_last.items()}
                spark = sp.start(1)
                settle(run, spark)  # as at local[N], so both sides time settled epochs
                one = Loop()
                for k in sorted(wide):
                    run.epoch = k  # replay exactly the slices measured above
                    run.epoch_once(spark, Tracer(spark, False), one, traced=False)
                narrow = {k: table_digest(spark, run.bulk_last[k]) for k in wide}
                ops.attempted += 1
                if wide != narrow:
                    ops.failed += 1
                    problems.append(f"local[1] digests {narrow} != local[{cores}] {wide}")
                out["one"] = one
            spark = sp.start(cores, eventlog=True)
            settle(run, spark)  # a new application in the warm JVM
            # untraced and traced epochs alternate in this one application, so
            # trace overhead compares epochs in the same state
            tr, matched, traced = Tracer(spark, True), Loop(), Loop()
            end = time.perf_counter() + args.seconds / 2
            while ((time.perf_counter() < end or len(traced.commit_s) < TRACED_EPOCHS)
                   and run.has_next(reserve=1)):
                run.epoch_once(spark, Tracer(spark, False), matched, traced=False)
                run.epoch_once(spark, tr, traced, traced=True)
            ops.attempted += 1
            if not traced.commit_s:
                ops.failed += 1
                problems.append("the traced loop ran no epoch: input slices ran out")
            out["traced"], out["matched"], out["tracer"] = traced, matched, tr
            out["snapshot"] = run.snapshot_stats(spark)
            if args.workload == "trickle":
                # the oracle check runs first and doubles as the warm-up
                sf_dir = os.path.join(work, "sf")
                suite.write_inputs(args.seed, sf_dir)
                bad = ops.run("suite oracle", lambda: suite.check(spark, sf_dir, ROOT))
                ops.attempted += len(suite.QUERIES)
                ops.failed += len(bad or [])
                problems.extend(bad or [])
                walls = ops.run("suite", lambda: suite.run_pass(
                    spark, sf_dir, lambda: tr.span("suite")))
                out["suite"] = walls or {}
        out["steal0"], out["steal"] = steal0, cpu_ticks()
        run.check(spark, ops, problems)
    finally:
        sp.shutdown()
    if args.trace:
        out["costs"] = stage_costs(os.path.join(work, "eventlog"))
    out["ops"], out["problems"], out["cores"] = ops, problems, cores
    return out


def table_digest(spark, root: str) -> str:
    from kafka_connect_plugins_spark.plans.lake_table import LakeTable

    return LakeTable.load(spark, root).state_digest()


# ----------------------------------------------------------------- metrics
def end_to_end(res: dict) -> dict[str, float]:
    p = res["plain"]
    return {
        "epoch_p50_s": median(p.epoch_s),
        "events_per_s": p.events / sum(p.epoch_s) if p.epoch_s else 0.0,
        "setup_s": res["setup_s"],
    }


def per_layer(res: dict, epoch_events: int) -> dict[str, float]:
    import suite

    units = per_layer_units(suite.QUERIES)
    m = {k: 0.0 for k in units}
    t, p = res["traced"], res["plain"]
    st = t.stats
    m["operators.chain_s"] = median(t.chain_s)
    m["operators.chain_events_per_s"] = epoch_events / m["operators.chain_s"] if t.chain_s else 0.0
    m["plans.merge_prepare_s"] = median(t.prepare_s)
    m["plans.merge_apply_s"] = median(t.apply_s)
    for ph in ("stats", "write", "commit"):
        m[f"plans.phase.{ph}_s"] = median([s.phases.get(ph) for s in st])
    m["plans.rows_written"] = median([s.rows_written for s in st])
    m["plans.dirty_bucket_frac"] = median(
        [s.dirty_buckets / max(1, s.total_buckets) for s in st])
    m["plans.bytes_written_per_event"] = median(t.bytes_written) / epoch_events
    snap_bytes, live = res["snapshot"]
    m["plans.table_bytes_per_live_row"] = snap_bytes / live if live else 0.0
    m["plans.lookup_s"] = median(t.lookup_s)
    m["plans.read_changes_s"] = median(t.changefeed_s)
    m["plans.read_changes_rows"] = median(t.changefeed_rows)
    m["engine.overhead_s"] = median(
        [e - a - b for e, a, b in zip(t.commit_s, t.prepare_s, t.apply_s)])
    if "one" in res:
        m["engine.scale_eff_1toN"] = median(res["one"].commit_s) / (
            res["cores"] * median(p.commit_s))
    s0, s1 = res["steal0"], res["steal"]
    m["host.steal_frac"] = (s1[0] - s0[0]) / max(1, s1[1] - s0[1])
    m["host.peak_rss_mb"] = res["peak_rss_mb"]
    m["trace.overhead_frac"] = median(t.commit_s) / median(res["matched"].commit_s) - 1.0
    walls = res.get("suite") or {}
    m["suite.s"] = sum(walls.values())
    for q, w in walls.items():
        m[f"suite.q.{q}_s"] = w
    # per call (one a traced epoch) for the epoch layers; totals over the one
    # pass for the suite, as suite.s is
    calls = {name: len(ws) for name, ws in res["tracer"].walls.items()}
    calls["suite"] = 1
    for span, cost in res["costs"].items():
        if span in LAYER_SPANS:
            m.update({f"{span}.{k}": v / max(1, calls.get(span, 1)) for k, v in cost.items()})
    return m


def result_line(res: dict, args, epoch_events: int) -> tuple[dict, dict]:
    import suite

    ops = res["ops"]
    if args.trace:
        units = per_layer_units(suite.QUERIES)
        vals = per_layer(res, epoch_events)
    else:
        units, vals = END_TO_END, end_to_end(res)
    result = {
        "correct": not res["problems"] and ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": vals[k], "unit": u} for k, u in units.items()},
    }
    p = res["plain"]
    e2e = end_to_end(res)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "epochs": len(p.commit_s), "cores": res["cores"],
        "epoch_p50_s": e2e["epoch_p50_s"], "commit_p50_s": median(p.commit_s),
        "lookup_p50_s": median(p.lookup_s), "changefeed_p50_s": median(p.changefeed_s),
        "setup_s": e2e["setup_s"], "setup_parts": res["setup_parts"],
        "peak_rss_mb": res["peak_rss_mb"],
        "commit_s": p.commit_s, "lookup_s": p.lookup_s, "changefeed_s": p.changefeed_s,
        "error_rate": ops.failed / max(1, ops.attempted),
        "errors": ops.errors[:10], "problems": res["problems"][:10],
    }
    if args.workload == "bulk":
        detail["merge_events_per_s"] = epoch_events / detail["commit_p50_s"] if p.commit_s else 0.0
    else:
        detail["trickle_events_per_s"] = p.events / sum(p.commit_s) if p.commit_s else 0.0
    if "suite" in res:
        detail["suite_s"] = sum(res["suite"].values())
    if "one" in res:
        detail["scale_eff_1toN"] = vals["engine.scale_eff_1toN"]
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=("bulk", "trickle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny only exercises the code paths")
    ap.add_argument("--inject-failure", action="store_true",
                    help="make the first timed commit fail (tests error counting)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and its JVM (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "kafka_connect_plugins_spark", "__init__.py")):
        print(f"perfbench: no kafka_connect_plugins_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]
    io = Stdio(os.path.join(base, f"{args.workload}.log"))
    try:
        from ingest import SIZES

        cfg = SIZES[args.size]
        epoch_events = cfg["bulk_events"] if args.workload == "bulk" else cfg["trickle_events"]
        res = run_workload(args, work, io)
        result, detail = result_line(res, args, epoch_events)
    except Exception:
        io.say("run failed:\n" + traceback.format_exc())
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    io.out.write(json.dumps(detail) + "\n")
    io.out.write(json.dumps(result) + "\n")
    io.out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
