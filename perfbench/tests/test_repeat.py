"""Counter repeatability: two traced runs with one seed and a fixed op
count must report the same structural counters, so that a counter that
moves between two commits marks the code, not the weather.

Run from the root of a graft checkout (about four minutes):

    PERFBENCH_SQL_DATA=<dir of graft's sf0.1 tables> \
        python3 -m unittest discover -s perfbench/tests -v

The sql_pipeline case needs graft's sf0.1 test tables; it is skipped
when PERFBENCH_SQL_DATA is not set.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
SEED = 7

# one whole round of each workload, every op traced
OPS = {"ts_read": 13, "ts_ingest": 23, "sql_pipeline": 7}

# counters that must repeat exactly on every workload
EXACT = ["exec.jobs", "exec.stages", "exec.tasks", "store.files_created",
         "api.prune.examined_per_returned"]

# ts_ingest: every count repeats exactly as well -- the auto-sort write
# samples its ranges with a fixed seed, so its task and file counts
# repeat too. Not exact: every time (*.ms, *_ms, *_s, jvm.gc_ms,
# trace.overhead_frac), and byte sizes (store.mb_*, maint.mb_rewritten,
# exec.shuffle_mb), since parquet footers may order their encodings
# differently from one JVM to the next.
INGEST_EXACT = EXACT + [
    "api.registry.calls", "api.manifest.fresh_frac", "write.rows",
    "store.files_live", "maint.files_removed"]


SQL_DATA = os.environ.get("PERFBENCH_SQL_DATA")


def traced(workload):
    data = ["--data", SQL_DATA] if workload == "sql_pipeline" else []
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1",
         "--ops", str(OPS[workload]), *data],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


class CounterRepeatability(unittest.TestCase):
    def check(self, workload, names):
        a, b = traced(workload), traced(workload)
        for name in names:
            with self.subTest(workload=workload, counter=name):
                self.assertEqual(a[name]["value"], b[name]["value"])

    def test_ts_read(self):
        self.check("ts_read", EXACT)

    @unittest.skipUnless(SQL_DATA, "PERFBENCH_SQL_DATA is not set")
    def test_sql_pipeline(self):
        self.check("sql_pipeline", EXACT)

    def test_ts_ingest(self):
        self.check("ts_ingest", INGEST_EXACT)


if __name__ == "__main__":
    unittest.main()
