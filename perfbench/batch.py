"""``batch_sf01``: registry queries over the repository's sf0.1 test data.

The tables are read from ``catalog.DEFAULT_SF_DIR`` (``$SPARK_GRAFT_SF_DIR``,
by default the sf0.1 test data the repository's tests and ``bench.py``
use). Where that directory lacks a table the queries read, seeded tables
of the same schema are written into the run's working directory first, by
``datagen.py`` in a process of its own; neither that nor the data's size
counts in any metric.

Each query is built fresh (``QUERIES[name](spark, sf_dir)``: driver-side
plan construction, including any eager training jobs) and forced through
the noop sink, under job groups the benchmark sets (one for the build,
one for the execution). Set-up runs one untimed pass; then whole timed
passes (``kcore`` once, ``wordcount`` five times) run while the next one, as long as the last, would end within the
run's measured seconds (at least one pass); each query run starts after a
full garbage collection in the driver JVM. Outputs are hashed against
each query's DuckDB ``ORACLE`` twin afterwards.
"""

from __future__ import annotations

import gc
import os
import subprocess
import sys

import checks
import latency
from harness import median, now_ms, stage_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.1
# the queries, with the tables each one reads: the driver-looped kcore
# (ROADMAP direction 3's first target: a count job per peel round) and the
# batch twin of the streaming wordcount. An exec-heavy shuffle join
# (multiway_join) costs ~7 s more per run, which the run budget does not
# leave room for next to the stream workload.
QUERIES = {
    "kcore": ("lineitem",),
    "wordcount": ("documents",),
}
TABLES = sorted({t for ts in QUERIES.values() for t in ts})
# runs of each query per timed pass: wordcount, the short query (~0.5 s,
# give or take 0.1 s), runs five times, so the median query run
# (latency_p50_ms) is the median of five of its runs, not one
RUNS_PER_PASS = {"kcore": 1, "wordcount": 5}
# untimed warm-up (set-up): one pass over every query. A query's first run
# in a session pays its code generation and the session's first scans (kcore
# takes about twice its steady time), which would otherwise land on the
# first timed pass.
WARMUP_QUERIES = tuple(QUERIES)


def data_dir(work: str, seed: int) -> tuple[str, str]:
    """``(directory, origin)`` of the tables the queries read."""
    from kafka_connect_streams_spark.catalog import DEFAULT_SF_DIR
    if all(os.path.isfile(os.path.join(DEFAULT_SF_DIR, f"{t}.parquet"))
           for t in TABLES):
        return DEFAULT_SF_DIR, DEFAULT_SF_DIR
    out = os.path.join(work, "sf0.1")
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), out,
                    str(seed), str(SF)], check=True)
    return out, f"datagen.py seed {seed}"


class BatchRun:
    def __init__(self, repo_root: str, work: str, seed: int, seconds: float,
                 tracer, start_spark):
        self.repo_root, self.work = repo_root, work
        self.seed, self.seconds = seed, seconds
        self.tracer, self.start_spark = tracer, start_spark
        # per query: (build_ms, exec_ms, build group, exec group) per pass
        self.runs: dict[str, list[tuple[float, float, str, str]]] = {
            q: [] for q in QUERIES}
        self.frames: dict = {}
        self.failures: list[str] = []
        self.spark = None

    @staticmethod
    def _force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _collect(self) -> None:
        """Full garbage collection in the driver JVM (and in Python)."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def prepare(self) -> None:
        """Locate (or write) the input tables; not part of any metric."""
        self.sf_dir, self.data_origin = data_dir(self.work, self.seed)

    def run(self, t_start_ms: float, root_span: int) -> dict:
        from kafka_connect_streams_spark import queries as Q
        tr, m = self.tracer, {"data": self.data_origin}
        with tr.span("setup", "harness", root_span) as ph:
            with tr.span("session", "engine", ph):
                self.spark = self.start_spark()
            with tr.span("warmup", "queries", ph):
                for name in WARMUP_QUERIES:
                    self._force(Q.QUERIES[name](self.spark, self.sf_dir))
        m["setup_s"] = (now_ms() - t_start_ms) / 1000.0

        sc = self.spark.sparkContext
        with tr.span("timed", "harness", root_span) as ph:
            t_end = now_ms() + self.seconds * 1000.0
            rep = 0
            # whole passes while the next one, as long as the last, still
            # ends within the measured seconds (at least one pass)
            while rep == 0 or 2 * now_ms() - t_pass < t_end:
                t_pass = now_ms()
                for name, i in ((n, i) for n in QUERIES
                                for i in range(RUNS_PER_PASS[n])):
                    # each query run starts from a collected heap: the
                    # previous run's checkpoint blocks and plans are
                    # garbage by now
                    self._collect()
                    group = f"perfbench:{name}:{rep}:{i}"
                    try:
                        with tr.span(name, "harness", ph, group) as qs:
                            sc.setJobGroup(group + ":build", group)
                            with tr.span("build", "queries", qs, group):
                                t0 = now_ms()
                                df = Q.QUERIES[name](self.spark, self.sf_dir)
                                t1 = now_ms()
                            sc.setJobGroup(group + ":exec", group)
                            with tr.span("exec", "operators", qs, group):
                                self._force(df)
                                t2 = now_ms()
                    except Exception as ex:  # a query that raises fails
                        self.failures.append(f"{name}: raised {ex!r}")
                        continue
                    self.runs[name].append((t1 - t0, t2 - t1,
                                            group + ":build",
                                            group + ":exec"))
                    self.frames[name] = df
                rep += 1
            sc.setJobGroup("perfbench:idle", "")
        # a query's time is its median build + exec over its runs
        per_query = {q: median(b + e for b, e, _, _ in r)
                     for q, r in self.runs.items()}
        m["batch_total_s"] = sum(per_query.values()) / 1000.0
        # a request is a query run (build + exec): a pass has too few Spark
        # jobs for steady job-level percentiles (the median job moved by a
        # quarter between runs, and the nearest-rank p99 is the single
        # slowest job); and the rows the stages read per second of task time
        st = stage_metrics(self.spark, {g for r in self.runs.values()
                                        for run in r for g in run[2:]})
        runs_ms = [b + e for r in self.runs.values() for b, e, _, _ in r]
        m["latency_p50_ms"] = latency.percentile(runs_ms, 50)
        m["latency_p99_ms"] = latency.percentile(runs_ms, 99)
        m["catchup_rps"] = st["input_records"] / st["executor_run_s"]
        m["passes"] = rep
        m["jobs"] = st["jobs"]
        m["query_ms"] = per_query
        return m

    def stop(self) -> None:
        pass

    def trace_batches(self, root_span: int) -> None:
        pass

    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        totals = {"jobs": 0.0, "executor_run_s": 0.0,
                  "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
                  "failed_tasks": 0.0, "task_skew": 0.0}
        for name, runs in self.runs.items():
            out[f"build_s.{name}"] = median(r[0] for r in runs) / 1000.0
            out[f"exec_s.{name}"] = median(r[1] for r in runs) / 1000.0
            # job and stage metrics of the last pass: every pass runs the
            # same plans, so the counts repeat
            st = stage_metrics(self.spark, set(runs[-1][2:]))
            out[f"jobs.{name}"] = st["jobs"]
            out[f"executor_run_s.{name}"] = st["executor_run_s"]
            out[f"shuffle_write_bytes.{name}"] = st["shuffle_write_bytes"]
            for k in totals:
                totals[k] = (max(totals[k], st[k]) if k == "task_skew"
                             else totals[k] + st[k])
        out["build_total_s"] = sum(out[f"build_s.{q}"] for q in QUERIES)
        out["exec_total_s"] = sum(out[f"exec_s.{q}"] for q in QUERIES)
        out.update({"jobs_total": totals["jobs"],
                    "executor_run_s": totals["executor_run_s"],
                    "shuffle_write_bytes": totals["shuffle_write_bytes"],
                    "spill_bytes_total": totals["spill_bytes"],
                    "task_skew_max": totals["task_skew"],
                    "failed_tasks_total": totals["failed_tasks"]})
        return out

    def check(self) -> tuple[int, int, list[str]]:
        """Each query's last result against its oracle, hashed the way
        ``tools/check.py`` hashes. Every query run is attempted; a run
        fails if it raised or its query's hash mismatches."""
        import duckdb
        from kafka_connect_streams_spark import queries as Q
        oc = checks.load_oracle_check(self.repo_root)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        bad: dict[str, list[str]] = {}
        for name, df in self.frames.items():
            scols, srows = checks.spark_rows(oc, df)
            ocols, orows = checks.oracle_rows(oc, con, Q.ORACLE[name])
            problems = checks.compare_tables(oc, scols, srows, ocols, orows)
            if problems:
                bad[name] = problems
        con.close()
        attempted = sum(len(r) for r in self.runs.values()) \
            + len(self.failures)
        failed = sum(len(self.runs[q]) for q in bad) + len(self.failures)
        return attempted, failed, self.failures + [
            f"{q}: {p}" for q, ps in bad.items() for p in ps]
