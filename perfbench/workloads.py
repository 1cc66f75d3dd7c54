"""The benchmark workloads.

Each workload is a closed loop over one job at a time. A workload
generates its seeded input and reference (its own work, never timed),
warms up on that input, then repeats its job; every job's outcome is
checked against the single-node reference. The traced run times growing
prefixes of the same job, each a call into the program's public functions,
so that a layer's time is the difference between neighbouring prefixes.
"""
from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
import kernel_split
from measure import EventLog
from pdf_parser_spark import lineage, pipeline
from pdf_parser_spark.caching import release_persisted
from pdf_parser_spark.sources import read_transcripts

DEDUP_QUERIES = ("minhash_lsh_pairs", "minhash_incremental", "embedding_near_dup", "token_stats")

KERNEL_NODE = "MapInPandas"
TRACE_REPS = 3  # runs of each prefix in a traced run; layers use medians
# the JVM is still compiling Spark's planner code after a set-up: per-job
# CPU time falls by ~20% over the first jobs after one
SETTLE_JOBS = 2


def _identity_frame(df):
    """The Arrow round trip of a ``mapInPandas`` with no kernel."""

    def identity(batches):
        yield from batches

    return df.mapInPandas(identity, schema=df.schema)


def _noop(df) -> None:
    """Materialize every column of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Base class. ``job`` is the timed step; the others are not timed."""

    rows = 0  # operations one job attempts, for fail_frac

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.trace_attempted = self.trace_failed = 0

    @property
    def session(self):
        return self.spark.session

    def cleanup(self) -> None:
        """Drop the persists a job leaves behind."""
        self.session.catalog.clearCache()
        release_persisted()

    def after_warm(self) -> None:
        """Untimed work after a set-up's warm-up."""

    def before_job(self) -> None:
        """Untimed work before each job."""

    def settle(self) -> tuple[int, int]:
        """``SETTLE_JOBS`` untimed, checked jobs before any timing: the first
        jobs after a set-up still run slow. Returns (attempted, failed)."""
        attempted = failed = 0
        for _ in range(SETTLE_JOBS):
            self.before_job()
            try:
                a, f = self.check(self.job())
            except Exception:
                traceback.print_exc()
                a, f = self.rows, self.rows
            self.cleanup()
            attempted += a
            failed += f
        return attempted, failed

    def _time_prefixes(self, prefixes: dict) -> dict[str, float]:
        """Median wall time of each prefix. Each prefix returns its job's
        outcome, which ``after_prefix`` sees untimed. Reps interleave the
        prefixes so that drift on the host spreads over all of them alike."""
        walls: dict[str, list[float]] = {name: [] for name in prefixes}
        for rep in range(TRACE_REPS):
            self.before_job()
            for name, run in prefixes.items():
                self.spark.step(f"{name}#{rep}")
                t0 = time.perf_counter()
                outcome = run()
                walls[name].append(time.perf_counter() - t0)
                self.spark.step("")
                self.after_prefix(name, outcome)
                self.cleanup()
        return {name: statistics.median(xs) for name, xs in walls.items()}

    def after_prefix(self, name: str, outcome) -> None:
        pass

    def scan_frames(self, todo):
        """The scan, identity-Arrow and kernel prefixes over ``todo(session)``,
        the rows a job feeds its kernel, planned as the job plans them."""
        split, salt = pipeline.scan_plan(self.path, self.spark.k)

        def scan():
            df = todo(pipeline.job_session(self.session, split))
            # extract_turns' salt exchange, when scan_plan asks for it, is
            # part of getting rows onto the kernel's partitions
            return df.repartition(F.xxhash64("conv_id", "turn_idx")) if salt else df

        def extract():
            return pipeline.extract_turns(
                todo(pipeline.job_session(self.session, split)), salt=salt
            )

        return scan, (lambda: _identity_frame(scan())), extract

    @staticmethod
    def scan_layers(t: dict, ev: EventLog) -> dict[str, float]:
        kernel = [s for s in ev.stages(_last("extract")) if ev.runs_node(s, KERNEL_NODE)]
        stage = ev.stage_metrics(kernel)
        return {
            "sources.scan_s": t["scan"],
            "sources.scan_tasks": ev.stage_metrics(ev.stages(_last("scan")))["input_tasks"],
            "pipeline.arrow_s": t["arrow"] - t["scan"],
            "kernels.extract_s": t["extract"] - t["arrow"],
            **{f"kernels.stage.{k}": stage[k] for k in
               ("tasks", "executor_cpu_s", "gc_s", "scheduler_delay_s", "task_skew")},
        }

    def single_node(self) -> tuple[dict[str, float], int]:
        """Kernel split over this workload's input: (metrics, mismatches)."""
        texts = pq.read_table(self.path, columns=["text"]).column("text").to_pylist()
        return kernel_split.split(texts)


def _last(name: str) -> str:
    return f"{name}#{TRACE_REPS - 1}"


def _shuffle_delta(ev: EventLog, step: str, base: str) -> tuple[float, float]:
    a = ev.stage_metrics(ev.stages(_last(step)))
    b = ev.stage_metrics(ev.stages(_last(base)))
    return a["shuffle_write_mb"] - b["shuffle_write_mb"], a["spill_mb"] - b["spill_mb"]


class ExtractMixed(Workload):
    """``pipeline.run_extraction`` over datagen's natural mix, noop sink.
    Its traced run also probes the ``operators`` layer (operators_probe)."""

    n_docs = 8_000

    def prepare(self) -> None:
        self.path = inputs.mixed_transcripts(self.seed, self.n_docs, self.work)
        self.ref = checks.extraction_reference(self.path)
        self.rows = len(self.ref)

    def _frame(self):
        return pipeline.run_extraction(self.session, self.path, num_partitions=self.spark.k)

    def warm(self) -> None:
        self.job()
        self.cleanup()

    def job(self):
        _noop(self._frame())

    def check(self, outcome) -> tuple[int, int]:
        # a noop sink cannot be read back: settle verifies a collected job
        return self.rows, 0

    def settle(self) -> tuple[int, int]:
        try:
            result = self.rows, checks.bad_rows(self._frame().toArrow().to_pydict(), self.ref)
        except Exception:
            traceback.print_exc()
            result = self.rows, self.rows
        self.cleanup()
        return result

    def trace(self):
        scan, arrow, extract = self.scan_frames(lambda s: read_transcripts(s, self.path))
        t = self._time_prefixes(
            {
                "scan": lambda: _noop(scan()),
                "arrow": lambda: _noop(arrow()),
                "extract": lambda: _noop(extract()),
                "full": self.job,
            }
        )
        self.traced_wall = t["full"]
        op_layers = operators_probe(self)

        def layers(ev: EventLog) -> dict[str, float]:
            shuffle, spill = _shuffle_delta(ev, "full", "extract")
            return {
                **self.scan_layers(t, ev),
                **op_layers(ev),
                "pipeline.reassemble_s": t["full"] - t["extract"],
                "pipeline.reassemble.shuffle_write_mb": shuffle,
                "pipeline.reassemble.spill_mb": spill,
            }

        return layers


class JobResumeChat(Workload):
    """``lineage.run_job`` resuming a snapshot with half of its 64 buckets
    (the even ones) committed, over a chat-like plain/html table."""

    n_docs = 6_000
    n_buckets = 64
    snapshot = "snap"

    def prepare(self) -> None:
        self.path = inputs.chat_transcripts(self.seed, self.n_docs, self.work)
        self.ref = checks.extraction_reference(self.path)
        self.rows = len(self.ref)
        self.dirs = {
            name: os.path.join(self.work, name)
            for name in ("warm_out", "warm_lineage", "tmpl_out", "tmpl_lineage",
                         "out", "lineage")
        }
        self.runs = 0

    def _run_job(self, out: str, lin: str) -> dict:
        self.runs += 1
        return lineage.run_job(
            self.session, self.path, out, lin, snapshot_id=self.snapshot,
            run_id=f"run{self.runs}", n_buckets=self.n_buckets,
            num_partitions=self.spark.k,
        )

    def warm(self) -> None:
        """The first warm-up is a fresh, full run_job whose output seeds
        the half-committed template; later ones are resume jobs."""
        if hasattr(self, "committed"):
            self.before_job()
            self.job()
        else:
            self._run_job(self.dirs["warm_out"], self.dirs["warm_lineage"])
        self.cleanup()

    def after_warm(self) -> None:
        if not hasattr(self, "committed"):
            self._build_template()

    def _build_template(self) -> None:
        """Bucket the reference rows with ``lineage.with_bucket`` and copy
        the even buckets' output and lineage rows into the template."""
        convs = pd.DataFrame({"conv_id": sorted(set(self.ref["conv_id"]))})
        buckets = lineage.with_bucket(
            self.session.createDataFrame(convs), self.n_buckets
        ).toPandas()
        self.ref["bucket"] = self.ref["conv_id"].map(
            dict(zip(buckets["conv_id"], buckets["bucket"]))
        )
        self.lineage_ref = {
            int(b): (len(g), int((~g["extraction_ok"]).sum()))
            for b, g in self.ref.groupby("bucket")
        }
        self.committed = [b for b in sorted(self.lineage_ref) if b % 2 == 0]
        self.todo_rows = sum(n for b, (n, _) in self.lineage_ref.items() if b % 2)

        d = self.dirs
        os.makedirs(d["tmpl_lineage"])
        for b in self.committed:
            shutil.copytree(
                os.path.join(d["warm_out"], f"bucket={b}"),
                os.path.join(d["tmpl_out"], f"bucket={b}"),
            )
        lin = pq.read_table(d["warm_lineage"])
        keep = [b in self.committed for b in lin.column("bucket").to_pylist()]
        pq.write_table(lin.filter(keep), os.path.join(d["tmpl_lineage"], "part-0.parquet"))

    def before_job(self) -> None:
        """Put the output and lineage tables back to the half-committed state."""
        for name in ("out", "lineage"):
            shutil.rmtree(self.dirs[name], ignore_errors=True)
            shutil.copytree(self.dirs[f"tmpl_{name}"], self.dirs[name])

    def job(self):
        return self._run_job(self.dirs["out"], self.dirs["lineage"])

    def check(self, summary) -> tuple[int, int]:
        """Every output row and bucket against the reference, every
        snapshot lineage row against the reference's per-bucket counts, and
        the returned summary. A row fails if it is wrong, or its bucket's
        lineage is; a wrong summary fails them all."""
        out = pq.read_table(self.dirs["out"]).to_pydict()
        bad = checks.bad_rows(out, self.ref, checks.ROW_FIELDS + ("bucket",))
        seen: dict[int, list] = {}
        lin = pq.read_table(self.dirs["lineage"]).to_pydict()
        for b, snap, n, fails in zip(lin["bucket"], lin["input_snapshot_id"],
                                     lin["turn_count"], lin["extraction_failure_count"]):
            if snap == self.snapshot:
                seen.setdefault(b, []).append((n, fails))
        bad_buckets = {b for b, rows in seen.items() if rows != [self.lineage_ref.get(b)]}
        bad_buckets |= set(self.lineage_ref) - set(seen)
        bad += sum(self.lineage_ref.get(b, (0, 0))[0] for b in bad_buckets)
        expect = {
            "buckets_committed": len(self.lineage_ref),
            "turns": self.rows,
            "failures": sum(f for _, f in self.lineage_ref.values()),
        }
        if summary != expect:
            bad = self.rows
        return self.rows, min(bad, self.rows)

    def _files(self) -> dict[int, set[str]]:
        out = {}
        for d in os.listdir(self.dirs["out"]):
            if d.startswith("bucket="):
                names = os.listdir(os.path.join(self.dirs["out"], d))
                out[int(d[7:])] = {n for n in names if n.endswith(".parquet")}
        return out

    def after_prefix(self, name: str, outcome) -> None:
        if name != "full":
            return
        a, f = self.check(outcome)
        self.trace_attempted += a
        self.trace_failed += f
        before = {b: os.listdir(os.path.join(self.dirs["tmpl_out"], f"bucket={b}"))
                  for b in self.committed}
        after = self._files()
        self.skipped = sum(
            1 for b, names in before.items()
            if after.get(b) == {n for n in names if n.endswith(".parquet")}
        )
        self.new_files = sum(len(v) for b, v in after.items() if b not in before)

    def trace(self):
        def todo(s):
            turns = lineage.with_bucket(read_transcripts(s, self.path), self.n_buckets)
            done = lineage.committed_buckets(s, self.dirs["lineage"], self.snapshot)
            return turns.join(F.broadcast(done), "bucket", "left_anti").drop("bucket")

        scan, arrow, extract = self.scan_frames(todo)
        k = self.spark.k
        t = self._time_prefixes(
            {
                "scan": lambda: _noop(scan()),
                "arrow": lambda: _noop(arrow()),
                "extract": lambda: _noop(extract()),
                "cluster": lambda: _noop(
                    lineage.cluster_by_bucket(extract(), self.n_buckets, k)
                ),
                "full": self.job,
            }
        )
        self.traced_wall = t["full"]

        def layers(ev: EventLog) -> dict[str, float]:
            shuffle, _ = _shuffle_delta(ev, "cluster", "extract")
            kernel_rows = sum(
                ev.node_updates(s, KERNEL_NODE, "number of output rows")
                for s in ev.stages(_last("full"))
            )
            return {
                **self.scan_layers(t, ev),
                "lineage.cluster_s": t["cluster"] - t["extract"],
                "lineage.cluster.shuffle_write_mb": shuffle,
                "lineage.write_s": t["full"] - t["cluster"],
                "lineage.output_files": self.new_files,
                "lineage.buckets_skipped": self.skipped,
                "lineage.kernel_rows_per_todo_row": kernel_rows / self.todo_rows,
            }

        return layers


def operators_probe(wl: Workload):
    """The four dedup_ops registry queries over small replicated tables,
    each materialized to the driver and checked against its DuckDB oracle.
    One pass warms them; the second pass is timed. Returns the function
    that reads their layer metrics from the event log."""
    import __spark_entry__ as entry

    tables = inputs.dedup_tables(wl.seed, 400, 2, wl.work)
    expected = checks.oracle_results(tables, checks.oracle_queries(entry, tables))
    queries = entry.queries()
    secs = {}
    for rep in range(2):
        for q in DEDUP_QUERIES:
            wl.spark.step(f"op:{q}#{rep}")
            t0 = time.perf_counter()
            result = queries[q](wl.session, tables).toArrow()
            secs[q] = time.perf_counter() - t0
            wl.spark.step("")
            wl.trace_attempted += 1
            wl.trace_failed += not checks.matches_oracle(result, expected[q])
            wl.cleanup()

    def layers(ev: EventLog) -> dict[str, float]:
        out = {}
        for q in DEDUP_QUERIES:
            m = ev.stage_metrics(ev.stages(f"op:{q}#1"))
            out[f"operators.{q}.s"] = secs[q]
            out[f"operators.{q}.shuffle_write_mb"] = m["shuffle_write_mb"]
            out[f"operators.{q}.spill_mb"] = m["spill_mb"]
        return out

    return layers


WORKLOADS = {"extract_mixed": ExtractMixed, "job_resume_chat": JobResumeChat}
