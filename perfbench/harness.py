"""Spark-side harness: session rounds, timed passes, RSS sampling, the golden
check and the event-log reduction.  Everything here calls the program only
through its public entry points (``get_spark``, ``load_transcripts``,
``write_output``, ``run_extraction``).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time

from pyspark.sql import functions as F

SLOTS = min(3, os.cpu_count() or 1)  # one core stays free for the driver JVM
PARTITIONS = 4 * SLOTS  # salted-repartition width, as bench.py uses (4x slots)
ARROW_BATCH = 512  # get_spark's default maxRecordsPerBatch
DRIVER_MEM = "2g"
SETUP_ROUNDS = 2
STEADY_PASSES = 1


def isolate(cache_root: str) -> None:
    """Keep Spark's scratch files (shuffle, temp, JVM temp) inside the cache."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(cache_root, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cache_root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(cache_root, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def canary_ms(reps: int = 5) -> list[float]:
    """Fixed single-core pure-Python loop; tells host drift from regressions."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += i * i % 7
        out.append((time.perf_counter() - t0) * 1000)
    return out


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry.name) as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Samples the summed RSS of this process's descendants (driver JVM,
    Python daemon and workers) every INTERVAL seconds; the process list is
    refreshed every RESCAN seconds, because a full /proc scan costs more
    than reading a few statm files."""

    INTERVAL = 0.02
    RESCAN = 0.5

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _rss(self, pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open("/proc/%d/statm" % pid) as f:
                    total += int(f.read().split()[1])
            except OSError:
                pass  # the process ended between scan and read
        return total * self._page

    def _run(self) -> None:
        me = os.getpid()
        pids, scanned = [], 0.0
        while True:
            now = time.monotonic()
            if now - scanned >= self.RESCAN:
                pids, scanned = _descendants(me), now
            rss = self._rss(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            if self._stop.wait(self.INTERVAL):
                return

    def take_peak(self) -> int:
        """Peak since the previous call, in bytes."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def open_session(event_log_dir: str | None = None):
    from pdfparse_spark.pipeline.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        master="local[%d]" % SLOTS,
        app_name="perfbench",
        shuffle_partitions=PARTITIONS,
        arrow_batch=ARROW_BATCH,
        extra_conf=conf,
    )


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    # pyspark keeps no other handle on a shut-down gateway; clearing these
    # lets a later get_spark launch a fresh JVM instead of reusing this one
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(spark, input_path: str, out_dir: str) -> None:
    """One pass of the workload's job, from submit to output commit."""
    from pdfparse_spark.pipeline.extract import run_extraction
    from pdfparse_spark.sources.io import load_transcripts, write_output

    df = load_transcripts(spark, input_path)
    write_output(run_extraction(df, num_partitions=PARTITIONS), out_dir)


class Passes:
    """Numbered pass directories under one run directory."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.n = 0

    def next_dir(self) -> str:
        self.n += 1
        return os.path.join(self.run_dir, "pass%03d" % self.n)


def _slot_warm_body(batches):
    """Imports the kernel in the Python worker and runs it once per batch."""
    from pdfparse_spark.kernel.extract import extract_turn

    for batch in batches:
        extract_turn("<html><body><p>%s</p></body></html>" % ("warm-up text " * 8))
        yield batch


def setup(passes: Passes, inputs: dict):
    """SETUP_ROUNDS cold rounds, each launching a fresh JVM: ``get_spark``
    plus a slot warm-up job (one task per partition, each importing the
    kernel in its Python worker).  The last round's session then runs
    STEADY_PASSES full passes that bring the JVM past its JIT warm-up.
    setup_s is the median round plus the steady passes.  Returns (spark,
    setup_s, detail)."""
    rounds = []
    for k in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        spark = open_session()
        t1 = time.perf_counter()
        spark.range(PARTITIONS, numPartitions=PARTITIONS).mapInPandas(
            _slot_warm_body, "id long"
        ).count()
        rounds.append({"session_s": t1 - t0, "slot_warm_s": time.perf_counter() - t1})
        if k < SETUP_ROUNDS - 1:
            shutdown(spark)  # the next round launches its own JVM
    steady = []
    for _ in range(STEADY_PASSES):
        p0 = time.perf_counter()
        run_pass(spark, inputs["input"], passes.next_dir())
        steady.append(time.perf_counter() - p0)
    round_s = statistics.median(r["session_s"] + r["slot_warm_s"] for r in rounds)
    return spark, round_s + sum(steady), {"rounds": rounds, "steady_passes_s": steady}


def timed_passes(spark, passes: Passes, inputs: dict, seconds: float):
    """Passes until ``seconds`` have elapsed (at least one).  Returns
    [(pass_dir, wall_s)] and each pass's peak tree RSS in bytes."""
    done = []
    with RssSampler() as rss:
        start = time.perf_counter()
        while not done or time.perf_counter() - start < seconds:
            d = passes.next_dir()
            p0 = time.perf_counter()
            run_pass(spark, inputs["input"], d)
            done.append((d, time.perf_counter() - p0, rss.take_peak()))
    return [(d, w) for d, w, _ in done], [p for _, _, p in done]


def median_rate(done, n_turns: int) -> float:
    return statistics.median(n_turns / w for _, w in done)


_KEYS = ["_pass", "conv_id", "turn_idx"]
# output column -> golden column
_GOLDEN_COLS = {
    "content_type": "g_content_type",
    "extracted_text": "g_text",
    "spans": "g_spans",
    "parse_status": "g_status",
}


def check_outputs(spark, golden_path: str, outputs: list) -> tuple[int, int]:
    """Compare every committed output (a DataFrame per pass) with the
    goldens on (content_type, extracted_text, spans, parse_status), keyed on
    (conv_id, turn_idx).  A full outer join per pass counts the turns that
    are missing, mismatched, duplicated or extra.  Returns (attempted,
    failed)."""
    from functools import reduce

    out = reduce(
        lambda a, b: a.unionByName(b),
        [
            o.select("conv_id", "turn_idx", *_GOLDEN_COLS).withColumn("_pass", F.lit(k))
            for k, o in enumerate(outputs)
        ],
    )
    golden = spark.read.parquet(golden_path).select(
        "conv_id", "turn_idx", *[F.col(g).alias("g_" + c) for c, g in _GOLDEN_COLS.items()]
    )
    attempted = golden.count() * len(outputs)
    golden = golden.crossJoin(
        spark.range(len(outputs)).select(F.col("id").cast("int").alias("_pass"))
    )
    ok = reduce(lambda a, b: a & b, [F.col(c).eqNullSafe(F.col("g_" + c)) for c in _GOLDEN_COLS])
    row = (
        golden.join(out, _KEYS, "full")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(F.when(ok, F.struct(*_KEYS))).alias("ok_keys"),
        )
        .first()
    )
    # rows beyond one per golden turn are duplicated or extra output rows
    failed = attempted - row["ok_keys"] + (row["rows"] - attempted)
    return attempted, min(failed, attempted)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


# --- Spark event log reduction -------------------------------------------

SPARK_FIELDS = (
    "task_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "peak_exec_mem_mb", "tasks", "straggler_ratio",
)


def reduce_event_log(log_dir: str, groups: dict[str, int]) -> dict[str, float]:
    """Per job group (``setJobGroup`` id): task, CPU and GC seconds, shuffle
    and spill MB, peak execution memory, task count and the straggler ratio
    (max / median task run time in the group's heaviest stage), each divided
    by the number of times the group ran (``groups[name]``) except the two
    maxima and the ratio."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {g: [] for g in groups}
    paths = sorted(
        os.path.join(d, name) for d, _, names in os.walk(log_dir) for name in names
        if name.startswith(("events_", "local-"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in tasks:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None and ev.get("Task Metrics"):
                        tasks[group].append(ev)
    out: dict[str, float] = {}
    for group, evs in tasks.items():
        reps = max(1, groups[group])
        tot = dict.fromkeys(SPARK_FIELDS, 0.0)
        per_stage: dict[int, list[float]] = {}
        for ev in evs:
            m = ev["Task Metrics"]
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            run_s = m.get("Executor Run Time", 0) / 1000
            tot["task_s"] += run_s
            tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1000
            tot["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 1e6
            tot["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / 1e6
            tot["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
            tot["peak_exec_mem_mb"] = max(tot["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / 1e6)
            per_stage.setdefault(ev["Stage ID"], []).append(run_s)
        for k in ("task_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            tot[k] /= reps
        tot["tasks"] = len(evs) / reps
        if per_stage:
            heavy = max(per_stage.values(), key=sum)
            med = statistics.median(heavy)
            tot["straggler_ratio"] = max(heavy) / med if med > 0 else 1.0
        for k, v in tot.items():
            out["spark.%s.%s" % (group, k)] = v
    return out
