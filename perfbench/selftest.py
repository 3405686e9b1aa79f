"""Self-test of the benchmark's own measurement code, on the sf0.001
reference tables in `perfbench/data/`. Run from the repository root:

    python3 perfbench/selftest.py                  # exit 1 on any failed check
    python3 perfbench/selftest.py --record-golden  # rewrite golden.json

Checks that build time plus write time accounts for each query's wall
time, that the event-log parser finds task time and Python-worker time
on an Arrow row, that a renamed Spark metric fails loudly, that outputs
match their oracles, and that the golden-hash rows still hash to
golden.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import run

QUERIES = ["customer_entity_groups", "doc_bpe_tokens", "doc_lang_id_arrow"]
ARROW_ROW = "doc_lang_id_arrow"


def renamed_metric_fails() -> bool:
    from eventlog import EventLog

    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {},
            "Task Metrics": {"Executor Runtime": 1}}
    with tempfile.NamedTemporaryFile("w", suffix=".json") as f:
        f.write(json.dumps(task) + "\n")
        f.flush()
        try:
            EventLog(f.name)
        except KeyError:
            return True
    return False


def main() -> int:
    record = "--record-golden" in sys.argv[1:]
    work = os.path.join(run.OUT_ROOT, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run.pin_env(work)
    sys.path.insert(0, run.HERE)
    import checks
    import datagen
    from eventlog import PYTHON_ACCUMS, EventLog
    from malstrom_spark.queries import full_registry

    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failures.append(what)

    spark = None
    try:
        data = datagen.reference_dir(0.001)
        spark = run.start_session(work, trace=True)
        reg = full_registry()
        if record:
            golden = {}
            gdata = datagen.reference_dir(run.GOLDEN_SF)
            oracle = checks.OracleCheck(gdata)
            for name in run.GOLDEN_ROWS:
                out = os.path.join(work, "golden-out", name)
                reg[name].fn(spark, gdata).write.parquet(out)
                if reg[name].oracle is not None and not oracle.matches(name, reg[name].oracle, out):
                    raise SystemExit(f"{name} does not match its oracle; golden not recorded")
                golden[name] = checks.output_digest(out)
            with open(checks.GOLDEN_PATH, "w") as f:
                json.dump(golden, f, indent=1, sort_keys=True)
                f.write("\n")
            print(f"wrote {checks.GOLDEN_PATH}")
            return 0

        records = run.run_batch(spark, reg, "selftest", QUERIES, data, work, 0, True)
        for r in records:
            gap = abs(r["build_s"] + r["write_s"] - r["wall_s"])
            expect(gap <= 0.005 + 0.01 * r["wall_s"],
                   f"{r['name']}: build+write {r['build_s'] + r['write_s']:.4f}s "
                   f"= wall {r['wall_s']:.4f}s")
        expect(run.check_batch(reg, data, records) == 0, "outputs match their oracles")
        attempted, failed = run.check_golden(spark, reg, "selftest", list(run.GOLDEN_ROWS),
                                             work, True)
        expect(attempted == len(run.GOLDEN_ROWS) and failed == 0,
               "golden-hash rows match golden.json")
        run.stop_session(spark)
        spark = None

        (log_path,) = os.listdir(os.path.join(work, "eventlog"))
        evlog = EventLog(os.path.join(work, "eventlog", log_path))
        arrow = evlog.summary(lambda lab: lab.startswith(f"selftest:{ARROW_ROW}:"))
        expect(arrow.get("run_s", 0) > 0, f"{ARROW_ROW}: spark.task_run_s > 0")
        expect(arrow.get("python_run_s", 0) > 0, f"{ARROW_ROW}: functions.python_run_s > 0")
        missing = set(PYTHON_ACCUMS) - evlog.accum_names
        expect(not missing, f"Python worker accumulables present (missing: {sorted(missing)})")
        expect(renamed_metric_fails(), "a renamed task metric raises")
    finally:
        if spark is not None:
            run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(failures)} failed" if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
