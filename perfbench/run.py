"""Benchmark of the malstrom_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see perfbench/README.md):

  llm_pipeline  4 LLM-data pipeline queries (Python/Arrow kernels, fits, CC)
  stream_keyed  keyed running totals over a file stream: backlog catch-up,
                then an open-loop phase fed by a separate generator process

Inputs are staged from --seed under `.perfbench/` in the working
directory: the reference tables in `perfbench/data/` with their rows
shuffled, or seeded keyed events. With --trace 0 the last stdout line carries the end-to-end
metrics; with --trace 1 it carries the per-layer metrics, read from the
Spark event log, the streaming progress events and timers around the
calls into each layer, and they are also written to
`.perfbench/layers-<workload>.json`. Every output is checked for
correctness outside the timed region.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
OUT_ROOT = os.path.abspath(".perfbench")

LLM_PIPELINE = [
    "doc_lang_id_arrow", "doc_bpe_tokens", "customer_entity_groups",
    "dedup_minhash_lsh_scale",
]
BATCH = {
    # queries, scale factor, tables the queries read
    "llm_pipeline": (LLM_PIPELINE, 0.01, ("documents", "customer")),
}
# rows with no oracle, or one that does not run in seconds: checked by
# a golden hash of their output on a fixed input (golden.json)
GOLDEN_ROWS = ("dedup_minhash_lsh_scale",)
GOLDEN_SF = 0.001

# stream_keyed: events over a 20k-key space. The backlog drains in
# BACKLOG_FILES / FILES_PER_TRIGGER micro-batches; the open loop writes
# one OPEN_FILE_EVENTS file every OPEN_INTERVAL_MS (50 events/s): each
# batch's rows lengthen the next batch, and at 100 events/s and above
# that feedback made latency swing by 30-100% run to run as the host took
# cores away from this one. The open loop's
# files are cut, in due order, into LATENCY_WINDOWS windows, and
# latency_p99_ms is the median of the windows' p99, so one stalled batch
# does not set it alone.
STREAM_KEYS = 20_000
FILE_EVENTS = 40
WARM_FILES = 2
BACKLOG_FILES = 100
FILES_PER_TRIGGER = 50
OPEN_FILE_EVENTS = 5
OPEN_INTERVAL_MS = 100
OPEN_WARM_S = 10
GEN_LEAD_MS = 1000
LATENCY_WINDOWS = 4

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "catchup_eps": "1/s",
    "latency_p50_ms": "ms", "latency_p99_ms": "ms",
}
# process.peak_rss_mb is a per-layer metric: the JVM's heap growth made
# it bimodal run to run (1.0 vs 1.4-1.6 GB on a relational query set)
LAYER_UNITS = {
    "process.peak_rss_mb": "MB", "session.build_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.py4j_calls": "count",
    "sinks.write_s": "s", "spark.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_util": "frac", "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "functions.python_run_s": "s", "functions.python_start_s": "s",
    "functions.python_bytes_sent": "bytes", "functions.python_bytes_returned": "bytes",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.add_batch_ms": "ms", "streaming.overhead_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.keys_updated": "count",
    "streaming.ms_per_key": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "streaming.state_commit_ms": "ms",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "sources.backlog_files_max": "count", "gen.late_ms_max": "ms",
    "trace.overhead_frac": "frac",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def pin_env(work: str) -> dict[str, str]:
    """Launch environment, set before pyspark or malstrom_spark load:
    Python workers import malstrom_spark through PYTHONPATH, the engine
    sizes local[N] and shuffle partitions from SPARK_GRAFT_CPUS, the
    driver heap is sized to the host instead of the 48g default, and
    every scratch file (Spark, JVM, Python) stays under `work`.
    Spark gets half the cores: the other half is left to the JVM's own
    threads, the Python workers and the load generator, so a core the
    host takes away for a moment stalls none of the task threads."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    host_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem = f"{max(2, min(8, int(host_gib // 5)))}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    old_path = os.environ.get("PYTHONPATH")
    env = {
        "PYTHONPATH": os.getcwd() + (os.pathsep + old_path if old_path else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f'--driver-memory {mem} --driver-java-options '
                               f'"-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell',
    }
    os.environ.update(env)
    sys.path.insert(0, os.getcwd())
    env["host_mem_gib"] = f"{host_gib:.1f}"
    return env


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers, load generator), sampled from /proc. Each
    process counts its proportional set size, so pages that forked
    Python workers share are counted once in the sum."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    def _tree_pss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return max(self.peak_bytes, self._tree_pss()) / 2**20


class Py4jCounter:
    """Counts driver->JVM py4j commands sent while `active`."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        self.calls = 0
        self.active = False

        def counted(*args, **kwargs):
            if self.active:
                self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted


def pct(values: list[float], q: float) -> float:
    """Percentile, interpolated linearly between the two nearest ranks."""
    s = sorted(values)
    pos = (len(s) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ------------------------------------------------------------------ session
def start_session(work: str, trace: bool):
    from malstrom_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            # 4.1 defaults to zstd-compressed rolling logs
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def describe(spark, label: str | None) -> None:
    if label is not None:
        spark.sparkContext.setJobDescription(label)


# ------------------------------------------------------------ batch workloads
def setup_batch(workload: str, seed: int, work: str, spark_holder: dict, trace: bool):
    import datagen

    names, sf, read_tables = BATCH[workload]
    data = os.path.join(work, "data")
    rows = datagen.stage_tables(sf, data, seed, read_tables)
    t = time.perf_counter()
    spark = spark_holder["spark"] = start_session(work, trace)
    build_s = time.perf_counter() - t
    from malstrom_spark.queries import full_registry

    reg = full_registry()
    # one unmeasured pass on the small GOLDEN_SF tables: the first run of
    # each query pays JIT, code-generation and class-loading costs that
    # made it up to 2x slower than the next. The golden-hash rows are
    # checked on this pass.
    t = time.perf_counter()
    describe(spark, f"{workload}:warmup:write" if trace else None)
    golden_data = datagen.reference_dir(GOLDEN_SF)
    for name in names:
        if name not in GOLDEN_ROWS:
            reg[name].fn(spark, golden_data).write.format("noop").mode("overwrite").save()
    golden = check_golden(spark, reg, workload, names, work, trace)
    warm_s = time.perf_counter() - t
    n_rows = sum(rows.values())
    return (spark, reg, data, n_rows, golden,
            {"session.build_s": build_s, "session.warmup_s": warm_s})


def run_batch(spark, reg, workload: str, names: list[str], data: str, work: str,
              seconds: float, trace: bool):
    """Full passes over `names` while one more pass, as long as the last
    one, still ends within `seconds` (at least one pass). Each query is
    built cold (fn() constructs its plan from scratch) and written to a
    parquet sink."""
    counter = Py4jCounter(spark) if trace else None
    records = []
    deadline = time.perf_counter() + seconds
    p, pass_s = 0, 0.0
    while p == 0 or time.perf_counter() + pass_s <= deadline:
        t_pass = time.perf_counter()
        for name in names:
            out = os.path.join(work, "out", f"p{p}", name)
            rec = {"pass": p, "name": name, "out": out, "ok": True}
            try:
                describe(spark, f"{workload}:{name}:build" if trace else None)
                if counter:
                    counter.calls, counter.active = 0, True
                t0 = time.perf_counter()
                df = reg[name].fn(spark, data)
                t1 = time.perf_counter()
                if counter:
                    counter.active = False
                    rec["py4j_calls"] = counter.calls
                describe(spark, f"{workload}:{name}:write" if trace else None)
                rec["write_epoch_ms"] = time.time() * 1000
                t2 = time.perf_counter()
                df.write.mode("overwrite").parquet(out)
                t3 = time.perf_counter()
                rec.update(build_s=t1 - t0, write_s=t3 - t2, wall_s=t3 - t0)
            except Exception:  # a failing query is a failed operation; keep going
                traceback.print_exc()
                rec["ok"] = False
                if counter:
                    counter.active = False
            records.append(rec)
            log(f"pass{p} {name}: {'ok' if rec['ok'] else 'FAILED'} "
                f"{rec.get('build_s', 0):.2f}+{rec.get('write_s', 0):.2f}s")
        pass_s = time.perf_counter() - t_pass
        p += 1
    return records


def batch_e2e(records: list[dict], n_rows: int) -> dict[str, float]:
    ok = [r for r in records if r["ok"]]
    if not ok:
        raise RuntimeError("every query failed")
    per_query: dict[str, list[float]] = {}
    for r in ok:
        per_query.setdefault(r["name"], []).append(r["build_s"] + r["write_s"])
    medians = [statistics.median(v) for v in per_query.values()]
    wall = sum(medians)
    lat_ms = [1000 * m for m in medians]
    return {
        "wall_s": wall,
        "catchup_eps": n_rows / wall,
        "latency_p50_ms": pct(lat_ms, 50),
        "latency_p99_ms": pct(lat_ms, 99),
    }


def check_batch(reg, data: str, records: list[dict]) -> int:
    """Number of outputs that fail their oracle check (golden-hash rows
    are checked by check_golden)."""
    import checks

    oracle = checks.OracleCheck(data)
    failed = 0
    try:
        for r in records:
            if not r["ok"]:
                failed += 1
                continue
            name = r["name"]
            if name in GOLDEN_ROWS:
                continue
            try:
                good = oracle.matches(name, reg[name].oracle, r["out"])
            except Exception:
                traceback.print_exc()
                good = False
            if not good:
                log(f"MISMATCH {name} pass{r['pass']}")
                failed += 1
    finally:
        oracle.close()
    return failed


def check_golden(spark, reg, workload: str, names: list[str], work: str,
                 trace: bool) -> tuple[int, int]:
    """(attempted, failed) for the golden-hash rows among `names`, run
    on the reference tables at GOLDEN_SF, unshuffled."""
    import checks
    import datagen

    golden = checks.load_golden()
    data = datagen.reference_dir(GOLDEN_SF)
    rows = [n for n in names if n in GOLDEN_ROWS]
    failed = 0
    for name in rows:
        out = os.path.join(work, "golden-out", name)
        try:
            describe(spark, f"{workload}:{name}:check" if trace else None)
            reg[name].fn(spark, data).write.mode("overwrite").parquet(out)
            good = checks.output_digest(out) == golden.get(name)
        except Exception:
            traceback.print_exc()
            good = False
        if not good:
            log(f"GOLDEN MISMATCH {name}")
            failed += 1
    return len(rows), failed


def batch_layers(records: list[dict], workload: str, evlog, cores: int) -> dict[str, float]:
    """Per-layer metrics of one pass (averaged over the passes run)."""
    ok = [r for r in records if r["ok"]]
    passes = max(r["pass"] for r in records) + 1

    def per_pass(key):
        return sum(r[key] for r in ok) / passes

    build = evlog.summary(lambda lab: lab.startswith(workload + ":") and lab.endswith(":build"))
    write = evlog.summary(lambda lab: lab.startswith(workload + ":") and lab.endswith(":write")
                          and ":warmup:" not in lab)
    both = evlog.summary(lambda lab: lab.startswith(workload + ":")
                         and (lab.endswith(":build") or lab.endswith(":write"))
                         and ":warmup:" not in lab)
    plan_s = 0.0
    for r in ok:
        label = f"{workload}:{r['name']}:write"
        first = evlog.first_submit_ms(lambda lab, label=label: lab == label)
        if first is not None:
            plan_s += max(0.0, first - r["write_epoch_ms"]) / 1000
    write_s = per_pass("write_s")
    core_util = write.get("run_s", 0.0) / passes / (write_s * cores)
    out = {
        "queries.build_s": per_pass("build_s"),
        "queries.build_jobs": build.get("jobs", 0) / passes,
        "queries.py4j_calls": per_pass("py4j_calls"),
        "sinks.write_s": write_s,
        "spark.plan_s": plan_s / passes,
    }
    out.update(spark_layers(both, core_util, passes))
    return out


def spark_layers(s: dict, core_util: float, passes: int = 1) -> dict[str, float]:
    """Event-log totals `s` as per-layer metrics, per pass."""
    g = lambda k: s.get(k, 0.0) / passes  # noqa: E731
    return {
        "spark.jobs": g("jobs"), "spark.stages": g("stages"), "spark.tasks": g("tasks"),
        "spark.task_run_s": g("run_s"), "spark.task_cpu_s": g("cpu_s"), "spark.gc_s": g("gc_s"),
        "spark.core_util": core_util,
        "spark.task_skew": s.get("task_skew", 1.0),
        "spark.shuffle_write_bytes": g("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": g("shuffle_read_bytes"),
        "spark.fetch_wait_s": g("fetch_wait_s"), "spark.spill_bytes": g("spill_bytes"),
        "functions.python_run_s": g("python_run_s"),
        "functions.python_start_s": g("python_start_s"),
        "functions.python_bytes_sent": g("python_bytes_sent"),
        "functions.python_bytes_returned": g("python_bytes_returned"),
    }


# ------------------------------------------------------------- stream_keyed
STREAM_SCHEMA = "user_id long, value double"


def _write_files(dirname: str, prefix: str, seed: int, n: int, events: int) -> None:
    import numpy as np
    import pyarrow.parquet as pq

    import datagen

    os.makedirs(dirname, exist_ok=True)
    rng = np.random.default_rng(seed)
    for i in range(n):
        pq.write_table(datagen.stream_events(rng, events, STREAM_KEYS),
                       os.path.join(dirname, f"{prefix}-{i:06d}.parquet"))


def setup_stream(seed: int, seconds: float, work: str, holder: dict, trace: bool):
    """Start the query on a small warm-up input and wait for it, then
    start the load generator and let its first OPEN_WARM_S seconds of
    files warm the per-batch path. The backlog is written to a staging
    directory, outside the stream. Returns when the measured part of the
    open loop begins."""
    from malstrom_spark.streaming.stateful import running_totals_stream

    in_dir = os.path.join(work, "in")
    _write_files(in_dir, "warm", seed + 1, WARM_FILES, FILE_EVENTS)
    _write_files(os.path.join(work, "backlog"), "backlog", seed, BACKLOG_FILES, FILE_EVENTS)
    t = time.perf_counter()
    spark = holder["spark"] = start_session(work, trace)
    build_s = time.perf_counter() - t
    t = time.perf_counter()
    sdf = (spark.readStream.schema(STREAM_SCHEMA)
           .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(in_dir))
    q = (running_totals_stream(sdf, "user_id", "value").writeStream
         .format("parquet").option("path", os.path.join(work, "sink"))
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .outputMode("append").start())
    holder["query"] = q
    _wait_rows(q, WARM_FILES * FILE_EVENTS, 60)
    n_files = int((OPEN_WARM_S + seconds) * 1000 / OPEN_INTERVAL_MS)
    start_ms = round(time.time() * 1000 + GEN_LEAD_MS)
    holder["gen"] = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), in_dir, str(seed + 2), str(n_files),
         str(OPEN_INTERVAL_MS), str(OPEN_FILE_EVENTS), str(STREAM_KEYS), str(start_ms)],
        stdout=subprocess.PIPE, text=True,
    )
    measure_ms = start_ms + OPEN_WARM_S * 1000
    time.sleep(max(0.0, measure_ms / 1000 - time.time()))
    return spark, q, measure_ms, {"session.build_s": build_s,
                                  "session.warmup_s": time.perf_counter() - t}


def _progress(q) -> dict[int, dict]:
    return {p["batchId"]: p for p in (json.loads(x.json) for x in q.recentProgress)}


def _wait_rows(q, rows: int, timeout_s: float) -> dict[int, dict]:
    """Poll until `rows` input rows have been processed in total; the
    progress events by batch id. Polls the last progress only, and the
    full list when a batch was missed between polls."""
    deadline = time.perf_counter() + timeout_s
    prog = _progress(q)
    while True:
        last = q.lastProgress
        if last is not None and last["batchId"] not in prog:
            if prog and last["batchId"] != max(prog) + 1:
                prog = _progress(q)
            prog[last["batchId"]] = json.loads(last.json)
        if sum(p["numInputRows"] for p in prog.values()) >= rows:
            return _progress(q)
        if q.exception() is not None or not q.isActive:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        if time.perf_counter() > deadline:
            raise TimeoutError(f"stream did not process {rows} rows in {timeout_s} s")
        time.sleep(0.2)


def _end_ms(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() * 1000 + p["durationMs"]["triggerExecution"]


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's checkpoint log."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def run_stream(q, gen: subprocess.Popen, measure_ms: float, seconds: float, work: str):
    """Open loop: wait for the generator to finish and time each file due
    after `measure_ms` from its due time to the end of the micro-batch
    that contained it. Catch-up: then move the staged backlog into the
    stream's directory and time its drain."""
    in_dir = os.path.join(work, "in")
    setup_batches = set(_progress(q))
    n_files = int((OPEN_WARM_S + seconds) * 1000 / OPEN_INTERVAL_MS)
    open_rows = WARM_FILES * FILE_EVENTS + n_files * OPEN_FILE_EVENTS
    backlog_rows = BACKLOG_FILES * FILE_EVENTS
    result = {"failed_batches": 0, "query_id": str(q.id), "backlog_rows": backlog_rows}
    try:
        out, _ = gen.communicate(timeout=seconds + 60)
        if gen.returncode != 0:
            raise RuntimeError(f"load generator exited with {gen.returncode}")
        result["gen"] = json.loads(out.strip().splitlines()[-1])
        prog = _wait_rows(q, open_rows, 30)
        open_batches = set(prog)
        t_start = time.time() * 1000
        for name in sorted(os.listdir(os.path.join(work, "backlog"))):
            os.rename(os.path.join(work, "backlog", name), os.path.join(in_dir, name))
        prog = _wait_rows(q, open_rows + backlog_rows, 60)
        catchup_end = max(_end_ms(p) for b, p in prog.items() if b not in open_batches
                          and p["numInputRows"] > 0)
        result["catchup_s"] = (catchup_end - t_start) / 1000
    except (RuntimeError, TimeoutError, subprocess.SubprocessError):
        traceback.print_exc()
        result["failed_batches"] += 1
        prog = _progress(q)
    batch_of = _file_batches(os.path.join(work, "ckpt"))
    end_of = {b: _end_ms(p) for b, p in prog.items()}
    due = sorted((d, f) for f in batch_of if f.startswith("due-")
                 and (d := int(f.split("-")[1])) > measure_ms)
    lat_ms = [end_of[batch_of[f]] - d for d, f in due if batch_of[f] in end_of]
    prog = {b: p for b, p in prog.items() if b not in setup_batches}
    backlog_max = 0
    for b, p in prog.items():
        start = end_of[b] - p["durationMs"]["triggerExecution"]
        waiting = sum(1 for d, f in due if d <= start and batch_of[f] >= b)
        backlog_max = max(backlog_max, waiting)
    for b, p in sorted(prog.items()):
        log(f"batch {b}: {p['numInputRows']} rows, {p['durationMs']['triggerExecution']} ms "
            f"(addBatch {p['durationMs'].get('addBatch', 0)} ms)")
    result.update(prog=prog, lat_ms=lat_ms, backlog_files_max=backlog_max)
    return result


def stream_e2e(res: dict) -> dict[str, float]:
    lat = res["lat_ms"]  # in due order
    if len(lat) < LATENCY_WINDOWS or not res.get("catchup_s"):
        raise RuntimeError("stream produced no measurable batches")
    n = LATENCY_WINDOWS
    windows = [lat[i * len(lat) // n:(i + 1) * len(lat) // n] for i in range(n)]
    return {
        "wall_s": res["catchup_s"],
        "catchup_eps": res["backlog_rows"] / res["catchup_s"],
        "latency_p50_ms": pct(lat, 50),
        "latency_p99_ms": statistics.median(pct(w, 99) for w in windows),
    }


def stream_layers(res: dict, evlog, cores: int) -> dict[str, float]:
    batches = [p for p in res["prog"].values() if p["numInputRows"] > 0]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    dur = lambda k: [p["durationMs"].get(k, 0) for p in batches]  # noqa: E731
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    updated = sum(o["numRowsUpdated"] for o in ops)
    update_ms = sum(o["allUpdatesTimeMs"] for o in ops)
    add_batch = dur("addBatch")
    spark_s = evlog.summary(lambda lab: f"id = {res['query_id']}" in lab)
    core_util = spark_s.get("run_s", 0.0) / (sum(add_batch) / 1000 * cores) if add_batch else 0.0
    out = {
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": med([p["numInputRows"] for p in batches]),
        "streaming.add_batch_ms": med(add_batch),
        "streaming.overhead_ms": med([t - a for t, a in zip(dur("triggerExecution"), add_batch)]),
        "streaming.query_planning_ms": med(dur("queryPlanning")),
        "streaming.keys_updated": updated,
        "streaming.ms_per_key": update_ms / updated if updated else 0.0,
        "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "streaming.state_commit_ms": med([o["commitTimeMs"] for o in ops]),
        "sources.latest_offset_ms": med(dur("latestOffset")),
        "sources.get_batch_ms": med(dur("getBatch")),
        "sources.backlog_files_max": res["backlog_files_max"],
        "gen.late_ms_max": res.get("gen", {}).get("late_ms_max", 0.0),
        "sinks.write_s": sum(add_batch) / 1000,
    }
    out.update(spark_layers(spark_s, core_util))
    return out


# -------------------------------------------------------------------- main
def code_digest() -> str:
    """Short hash of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    root = os.path.dirname(HERE)
    for pattern in ("malstrom_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(root, pattern), recursive=True)):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def e2e_path(workload: str, seed: int) -> str:
    return os.path.join(OUT_ROOT, f"e2e-{workload}-{seed}-{code_digest()}.json")


def untraced_reference(args) -> float:
    """wall_s of an untraced run of the same workload, seed and code:
    one already run in this working directory, else a fresh one."""
    ref = e2e_path(args.workload, args.seed)
    if not os.path.exists(ref):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL, timeout=600, check=True,
        )
    with open(ref) as f:
        return json.load(f)["wall_s"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*BATCH, "stream_keyed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    work = os.path.join(OUT_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_env(work)
    sys.path.insert(0, HERE)
    sampler = RssSampler()
    holder: dict = {}
    try:
        import malstrom_spark  # noqa: F401  (fail fast outside a repository checkout)

        ref_wall = untraced_reference(args) if trace else None
        t_setup = time.perf_counter() if trace else T_PROCESS
        if trace:
            sampler.start()

        if args.workload in BATCH:
            spark, reg, data, n_rows, (g_attempted, g_failed), layers = setup_batch(
                args.workload, args.seed, work, holder, trace)
            setup_s = time.perf_counter() - t_setup
            names = BATCH[args.workload][0]
            records = run_batch(spark, reg, args.workload, names, data, work, args.seconds, trace)
        else:
            spark, query, measure_ms, layers = setup_stream(
                args.seed, args.seconds, work, holder, trace)
            setup_s = time.perf_counter() - t_setup
            res = run_stream(query, holder["gen"], measure_ms, args.seconds, work)
            holder.pop("query").stop()
        stop_session(holder.pop("spark"))
        peak_mb = sampler.stop() if trace else None

        if args.workload in BATCH:
            e2e = batch_e2e(records, n_rows)
            attempted = len(records) + g_attempted
            failed = check_batch(reg, data, records) + g_failed
        else:
            import checks

            e2e = stream_e2e(res)
            attempted = len(res["prog"]) + 1
            failed = res["failed_batches"]
            if not checks.stream_totals_match(os.path.join(work, "in"), os.path.join(work, "sink")):
                log("MISMATCH stream totals")
                failed += 1
        e2e["setup_s"] = setup_s

        if trace:
            layers["process.peak_rss_mb"] = peak_mb
            from eventlog import EventLog

            cores = int(env["SPARK_GRAFT_CPUS"])
            (log_path,) = glob.glob(os.path.join(work, "eventlog", "*"))
            evlog = EventLog(log_path)
            if args.workload in BATCH:
                layers.update(batch_layers(records, args.workload, evlog, cores))
            else:
                layers.update(stream_layers(res, evlog, cores))
            layers["trace.overhead_frac"] = e2e["wall_s"] / ref_wall - 1
            # 0 for a layer the workload does not exercise
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                       for k, u in LAYER_UNITS.items()}
            detail = {"env": env, "end_to_end": e2e, "per_layer": layers}
            with open(os.path.join(OUT_ROOT, f"layers-{args.workload}.json"), "w") as f:
                json.dump(detail, f, indent=1)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
            with open(e2e_path(args.workload, args.seed), "w") as f:
                json.dump({"env": env, **e2e}, f, indent=1)
    finally:
        if "gen" in holder:  # a no-op once the generator has exited
            holder["gen"].kill()
            holder["gen"].wait()
        if "query" in holder:
            holder["query"].stop()
        if "spark" in holder:
            stop_session(holder["spark"])
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    log(f"env {env}")
    log(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
