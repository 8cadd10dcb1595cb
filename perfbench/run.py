"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It generates the workload's inputs from
the seed, starts a Spark session on ``local[<cores>]`` through the
engine's own factory, runs one untimed warm-up pass, then runs passes
closed-loop from this one process (one pass at a time) until ``S``
seconds have been measured. Every pass is checked against the
generator's truth; the last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` enables
Spark's event log, wraps each call into an engine layer in a span with
its own job group, and reports the per-layer metrics instead (see
NOTES.md). Everything the run writes stays under ``.perfbench/`` in the
working directory; the generated inputs are deleted when it ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE = "audios_to_dataset_spark"
MB = float(1 << 20)
# The JVM heap the runs pin: the engine's default (24g) does not fit
# beside other work on a 15 GB host.
DRIVER_MEM = "3g"

# Sizes are set so that a run (JVM start, inputs, warm-up, measured
# passes) stays within the time the benchmark's run count allows; see
# NOTES.md for how they relate to the corpus shapes they scale down.
SPEECH_FILES, SPEECH_SHARDS = 160, 4
CLIP_FILES, CLIP_SHARDS = 500, 40
# The targets of ROADMAP items 2-6 plus one fixed-overhead relational
# query; see NOTES.md for the four the budget left out.
QUERIES = (
    "q_join_inner", "q_sole_offender", "q_sparse_cosine", "q_split_assign",
    "q_clustering_coeff", "q_degree_assortativity", "q_audio_neardup",
)
ETL_SPANS = ("sources.binary_scan", "functions.wav", "operators.lookup_join",
             "operators.sharding")
SINK_SPANS = {"parquet": "sinks.parquet_shards", "duckdb": "sinks.duckdb_sink"}
SPAN_SUFFIXES = ("self_s", "tasks", "cpu_s", "py_init_s", "py_sent_mb",
                 "shuffle_write_mb", "spill_mb", "task_skew")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order. A traced run
    reports all of them; a layer the workload never calls reads 0."""
    names = []
    for kind, fmt in (("speech", "parquet"), ("clips", "duckdb")):
        for span in ETL_SPANS + (SINK_SPANS[fmt],):
            names += [f"{kind}.{span}.{s}" for s in SPAN_SUFFIXES]
        names += [f"{kind}.{n}" for n in (
            "sources.binary_scan.files_kept",
            "functions.wav.decode_failures",
            "operators.lookup_join.hit_relative_path",
            "operators.lookup_join.hit_file_name",
            "operators.lookup_join.hit_file_name_as_path",
            "operators.lookup_join.miss",
            "operators.sharding.max_shard_input_mb",
            f"{SINK_SPANS[fmt]}.bytes_written_mb",
        )]
    names.append("speech.sinks.parquet_shards.peak_worker_rss_mb")
    for q in QUERIES:
        names += [f"plans.{q}.{s}" for s in
                  ("call_s", "exec_s", "shuffle_write_mb", "tasks")]
    return names + ["operators.graph.cc_rounds", "trace.overhead_s"]


# --------------------------------------------------------------- memory

class RssSampler:
    """Samples, every 200 ms, the RSS of the Spark JVM (a descendant of
    this process) and the summed RSS of its Python worker processes."""

    # One sample scans /proc in this process, which also drives Spark, so
    # sampling more often takes time from the measured work.
    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.samples: list[tuple[float, int, int]] = []  # t, jvm, workers
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            kids.setdefault(ppid, []).append(int(name))
        return kids

    def _descendants(self, kids: dict[int, list[int]], pid: int):
        stack = list(kids.get(pid, []))
        while stack:
            pid = stack.pop()
            yield pid
            stack += kids.get(pid, [])

    def _comm(self, pid: int) -> str:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().strip()
        except OSError:
            return ""

    def _sample(self) -> tuple[int, int]:
        kids = self._children()
        jvm = next((p for p in self._descendants(kids, os.getpid())
                    if self._comm(p) == "java"), 0)
        if not jvm:
            return 0, 0
        workers = sum(self._rss(p) for p in self._descendants(kids, jvm))
        return self._rss(jvm), workers

    def _run(self) -> None:
        while not self._stop.is_set():
            jvm, workers = self._sample()
            self.samples.append((time.perf_counter(), jvm, workers))
            self._stop.wait(self.period_s)

    def peaks(self, start: float, end: float) -> tuple[float, float]:
        """Peak JVM and peak summed worker RSS, in MiB, within a window."""
        inside = [s for s in self.samples if start <= s[0] <= end]
        if not inside:
            return 0.0, 0.0
        return (max(s[1] for s in inside) / MB,
                max(s[2] for s in inside) / MB)


# -------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str = ""

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans; each span runs its Spark jobs in its own job
    group, so the event log attributes every task to one span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        s = Span(name, time.perf_counter(), parent=parent,
                 group=f"span-{len(self.spans)}")
        self.spans.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, indent=1)


# ------------------------------------------------------------ workloads

@dataclass
class PassResult:
    run_s: float
    problems: list[str]
    attempted: int = 1
    failed: int = 0
    out_bytes: int = 0
    extra: dict = field(default_factory=dict)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Pipeline:
    """The audio -> dataset shard pipeline on one generated corpus."""

    def __init__(self, kind: str, work: str, seed: int):
        self.kind, self.work, self.seed = kind, work, seed
        self.out = os.path.join(work, "out")
        if kind == "speech":
            self.fmt, self.mime = "parquet", False
            self.n_files, self.n_shards = SPEECH_FILES, SPEECH_SHARDS
        else:
            self.fmt, self.mime = "duckdb", True
            self.n_files, self.n_shards = CLIP_FILES, CLIP_SHARDS

    def generate(self) -> None:
        import corpus

        make = corpus.speech_corpus if self.kind == "speech" else \
            corpus.clips_corpus
        self.corpus = make(os.path.join(self.work, "corpus"), self.seed,
                           self.n_files)
        n = len(self.corpus.truth)
        self.files_per_shard = -(-n // self.n_shards)
        self.n_shards = -(-n // self.files_per_shard)
        self.placement = self.corpus.shard_of(self.files_per_shard)
        self.input_bytes = self.corpus.input_bytes

    def _clear_output(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, spark) -> PassResult:
        from audios_to_dataset_spark.pipeline import run_pipeline

        self._clear_output()
        c = self.corpus
        t = time.perf_counter()
        receipts = run_pipeline(
            spark, c.input_dir, self.out, metadata_file=c.metadata_file,
            output_format=self.fmt, compression="snappy",
            files_per_shard=self.files_per_shard,
            check_mime_type=self.mime, manifest=self.fmt == "parquet",
        )
        run_s = time.perf_counter() - t
        return PassResult(run_s, self.check(receipts),
                          out_bytes=self.output_bytes())

    def traced_pass(self, spark, tracer: Tracer, sampler) -> PassResult:
        """The same pipeline, layer by layer: span ``i`` builds the
        prefix up to layer ``i`` afresh (file listing and metadata load
        included) and forces it through the noop sink; the last span runs
        the real sink. Self times are then differences of walls."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from audios_to_dataset_spark.operators.lookup_join import lookup_join
        from audios_to_dataset_spark.operators.sharding import assign_shards
        from audios_to_dataset_spark.pipeline import enrich_files
        from audios_to_dataset_spark.sources.binary_scan import \
            scan_audio_files
        from audios_to_dataset_spark.sources.metadata import load_metadata

        import corpus as corpus_mod

        self._clear_output()
        c = self.corpus
        extra: dict[str, float] = {}

        def observed(df, name, *aggs):
            obs = Observation(name)
            noop(df.observe(obs, *aggs))
            return obs.get

        def scan():
            return scan_audio_files(spark, c.input_dir,
                                    metadata_file=c.metadata_file,
                                    check_mime_type=self.mime)

        def join():
            return lookup_join(enrich_files(scan()),
                               load_metadata(spark, c.metadata_file))

        def shard():
            return assign_shards(join(), self.files_per_shard)

        k = self.kind + "."
        parent = k + "pipeline"
        with tracer.span(parent, "pass"):
            with tracer.span(k + "sources.binary_scan", parent):
                got = observed(scan(), "scan", F.count(F.lit(1)).alias("n"))
            extra[k + "sources.binary_scan.files_kept"] = got["n"]
            with tracer.span(k + "functions.wav", parent):
                got = observed(enrich_files(scan()), "wav", F.sum(F.when(
                    F.col("sampling_rate") == 0, 1).otherwise(0)).alias("n"))
            extra[k + "functions.wav.decode_failures"] = got["n"] or 0
            with tracer.span(k + "operators.lookup_join", parent):
                aggs = [F.sum(F.when(F.col("match") == lv, 1).otherwise(0))
                        .alias(lv) for lv in corpus_mod.LEVELS]
                aggs.append(F.sum(F.when(F.col("match").isNull(), 1)
                                  .otherwise(0)).alias(corpus_mod.MISS))
                got = observed(join(), "join", *aggs)
            for lv in corpus_mod.LEVELS:
                extra[f"{k}operators.lookup_join.hit_{lv}"] = got[lv] or 0
            extra[k + "operators.lookup_join.miss"] = got[corpus_mod.MISS] or 0
            with tracer.span(k + "operators.sharding", parent):
                got = observed(shard(), "shard", F.max("shard").alias("last"))
            n_shards = (got["last"] or 0) + 1
            with tracer.span(k + SINK_SPANS[self.fmt], parent) as sink:
                if self.fmt == "parquet":
                    from audios_to_dataset_spark.sinks.parquet_shards import (
                        write_manifest, write_parquet_shards)

                    receipts = write_parquet_shards(shard(), self.out,
                                                    "snappy").collect()
                    write_manifest(receipts, self.out)
                else:
                    from audios_to_dataset_spark.sinks.duckdb_sink import \
                        write_duckdb_shards

                    receipts = write_duckdb_shards(shard(), self.out).collect()
        problems = self.check(receipts)
        if n_shards != self.n_shards:
            problems.append(f"{n_shards} shards assigned, not {self.n_shards}")
        kept = extra[k + "sources.binary_scan.files_kept"]
        if kept != len(c.truth):
            problems.append(f"scan kept {kept} files, not {len(c.truth)}")
        if extra[k + "functions.wav.decode_failures"]:
            problems.append("WAV decode failures on generated WAVs")
        for lv, n in c.levels.items():
            key = k + ("operators.lookup_join.miss" if lv == corpus_mod.MISS
                       else f"operators.lookup_join.hit_{lv}")
            if extra[key] != n:
                problems.append(f"{key}: {extra[key]} != truth {n}")
        per_shard: dict[int, int] = {}
        for rel, (shard, _) in self.placement.items():
            per_shard[shard] = per_shard.get(shard, 0) + c.sizes[rel]
        extra[k + "operators.sharding.max_shard_input_mb"] = \
            max(per_shard.values()) / MB
        sink_name = k + SINK_SPANS[self.fmt]
        extra[sink_name + ".bytes_written_mb"] = self.output_bytes() / MB
        if self.fmt == "parquet":
            extra[sink_name + ".peak_worker_rss_mb"] = \
                sampler.peaks(sink.start, sink.end)[1]
        # The sink span does the work of one untraced pass.
        return PassResult(sink.wall_s, problems, out_bytes=self.output_bytes(),
                          extra=extra)

    def output_bytes(self) -> int:
        suffix = "." + self.fmt
        return sum(
            os.path.getsize(os.path.join(self.out, f))
            for f in os.listdir(self.out) if f.endswith(suffix)
        )

    # -- output checks against the generator's truth

    def check(self, receipts) -> list[str]:
        problems: list[str] = []
        expected_rows = [0] * self.n_shards
        for shard, _ in self.placement.values():
            expected_rows[shard] += 1
        got_rows = {int(r.shard): int(r.n_rows) for r in receipts}
        if got_rows != dict(enumerate(expected_rows)):
            problems.append(f"receipts {got_rows} != {expected_rows}")
        shard_files = sorted(f for f in os.listdir(self.out)
                             if f.endswith("." + self.fmt))
        if shard_files != sorted(f"{i}.{self.fmt}"
                                 for i in range(self.n_shards)):
            problems.append(f"shard files {shard_files}")
        by_slot = {v: k for k, v in self.placement.items()}
        for shard, n in enumerate(expected_rows):
            path = os.path.join(self.out, f"{shard}.{self.fmt}")
            if not os.path.exists(path):
                problems.append(f"missing shard {path}")
                continue
            read = self._read_parquet if self.fmt == "parquet" else \
                self._read_duckdb
            rows, shard_problems = read(path, n)
            problems += shard_problems
            for i, row in enumerate(rows):
                problems += self._check_row(by_slot.get((shard, i)), row)
            if len(problems) > 20:
                break
        if self.fmt == "parquet":
            with open(os.path.join(self.out, "_manifest.jsonl")) as f:
                manifest = [json.loads(line) for line in f]
            if [m["n_rows"] for m in manifest] != expected_rows:
                problems.append("manifest row counts differ")
        return problems[:20]

    def _read_parquet(self, path: str, n: int):
        import pyarrow.parquet as pq

        problems = []
        pf = pq.ParquetFile(path)
        if b"huggingface" not in (pf.metadata.metadata or {}):
            problems.append(f"{path}: no huggingface footer key")
        groups = [pf.metadata.row_group(i).num_rows
                  for i in range(pf.metadata.num_row_groups)]
        if any(g != 256 for g in groups[:-1]) or sum(groups) != n:
            problems.append(f"{path}: row groups {groups} for {n} rows")
        t = pq.read_table(path, columns=[
            "audio.path", "audio.sampling_rate", "duration",
            "transcription", "match"]).to_pylist()
        return [(r["path"], r["sampling_rate"], r["duration"],
                 r["transcription"], r["match"]) for r in t], problems

    def _read_duckdb(self, path: str, n: int):
        import duckdb

        con = duckdb.connect(path, read_only=True)
        try:
            rows = con.execute(
                "SELECT id, audio.path, audio.sampling_rate, duration, "
                "transcription, match FROM files ORDER BY id").fetchall()
        finally:
            con.close()
        problems = []
        if [r[0] for r in rows] != list(range(n)):
            problems.append(f"{path}: ids are not 0..{n - 1}")
        return [r[1:] for r in rows], problems

    def _check_row(self, rel, row) -> list[str]:
        import corpus as corpus_mod

        if rel is None:
            return [f"unexpected row {row[0]}"]
        exp = self.corpus.truth[rel]
        path, sr, duration, text, match = row
        want_match = None if exp.level == corpus_mod.MISS else exp.level
        if (path, sr, text, match) != (rel, exp.sampling_rate,
                                       exp.transcription, want_match) or \
                abs(duration - exp.duration) > 1e-9:
            return [f"{rel}: got {row}, expected {exp}"]
        return []


class EtlWorkload:
    """Both input shapes of the ETL, one after the other in every pass."""

    def __init__(self, work: str, seed: int):
        self.pipelines = [Pipeline(kind, os.path.join(work, kind), seed)
                          for kind in ("speech", "clips")]

    def generate(self) -> None:
        for p in self.pipelines:
            p.generate()
        self.input_bytes = sum(p.input_bytes for p in self.pipelines)

    def _combine(self, results: list[PassResult]) -> PassResult:
        extra: dict = {}
        for r in results:
            extra.update(r.extra)
        return PassResult(
            sum(r.run_s for r in results),
            [p for r in results for p in r.problems],
            attempted=len(results),
            failed=sum(1 for r in results if r.problems),
            out_bytes=sum(r.out_bytes for r in results), extra=extra)

    def _each(self, call) -> PassResult:
        results = []
        for p in self.pipelines:
            try:
                results.append(call(p))
            except Exception as e:  # a failing run is a counted failure
                results.append(PassResult(
                    0.0, [f"{p.kind}: {type(e).__name__}: {e}"[:300]]))
        return self._combine(results)

    def run_pass(self, spark) -> PassResult:
        return self._each(lambda p: p.run_pass(spark))

    def traced_pass(self, spark, tracer: Tracer, sampler) -> PassResult:
        with tracer.span("pass"):
            return self._each(
                lambda p: p.traced_pass(spark, tracer, sampler))


class QueryMix:
    """Seven declared queries back to back on generated tables."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.dir = os.path.join(work, "tables")

    def generate(self) -> None:
        import tables

        tables.write_tables(self.dir, self.seed)
        self.table_names = tables.TABLES
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.dir, f))
            for f in os.listdir(self.dir))

    def check_pass(self, spark) -> PassResult:
        """The warm-up pass: collect every result and compare it with its
        DuckDB twin, by the value hash of tools/check.py."""
        import duckdb

        from audios_to_dataset_spark.plans import all_oracles, all_queries

        check = _import_checker()
        queries, oracles = all_queries(), all_oracles()
        con = duckdb.connect()
        for t in self.table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.dir, t)}.parquet'")
        problems, failed, out_bytes = [], 0, 0
        t0 = time.perf_counter()
        for name in QUERIES:
            try:
                df = queries[name](spark, self.dir)
                srows = [tuple(r) for r in df.collect()]
                scols = list(df.columns)
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
            except Exception as e:  # a failing query is a counted failure
                problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
                failed += 1
                continue
            out_bytes += sum(len(check.canon(r)) for r in srows)
            if (len(srows), sorted(scols)) != (len(orows), sorted(ocols)) or \
                    check.table_hash(scols, srows) != \
                    check.table_hash(ocols, orows):
                problems.append(f"{name}: result differs from its oracle")
                failed += 1
        con.close()
        self.out_bytes = out_bytes
        return PassResult(time.perf_counter() - t0, problems,
                          attempted=len(QUERIES), failed=failed,
                          out_bytes=out_bytes)

    def run_pass(self, spark, tracer: Tracer | None = None) -> PassResult:
        from audios_to_dataset_spark.plans import all_queries

        queries = all_queries()
        problems: list[str] = []
        extra: dict = {}
        t0 = time.perf_counter()
        whole = tracer.span("pass") if tracer else _null_span()
        with whole:
            for name in QUERIES:
                self._run_query(spark, queries, name, tracer, problems,
                                extra)
        return PassResult(time.perf_counter() - t0, problems,
                          attempted=len(QUERIES), failed=len(problems),
                          out_bytes=self.out_bytes, extra=extra)

    def _run_query(self, spark, queries, name, tracer, problems, extra):
        span = tracer.span(f"plans.{name}", "pass") if tracer else \
            _null_span()
        try:
            with span:
                t = time.perf_counter()
                df = queries[name](spark, self.dir)
                built = time.perf_counter()
                noop(df)
                done = time.perf_counter()
        except Exception as e:  # a failing query is a counted failure
            problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return
        extra[f"plans.{name}.call_s"] = built - t
        extra[f"plans.{name}.exec_s"] = done - built
        if name == "q_split_assign":
            from audios_to_dataset_spark.operators import graph

            extra["operators.graph.cc_rounds"] = getattr(
                graph, "LAST_CC_ROUNDS", None)

    def traced_pass(self, spark, tracer: Tracer, sampler) -> PassResult:
        return self.run_pass(spark, tracer)


@contextmanager
def _null_span():
    yield None


def _import_checker():
    """tools/check.py's value-hash comparison, imported rather than
    copied. Importing it prepends a fixed path to sys.path, which is
    undone so that the engine keeps resolving from this checkout."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import check
    finally:
        sys.path[:] = saved
    return check


WORKLOADS = {"etl": EtlWorkload, "query_mix": QueryMix}


# ----------------------------------------------------------------- main

def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, trace: bool) -> None:
    """Fix everything that makes numbers comparable, before the JVM
    starts: core count, heap, and where Spark and Python put files."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{c}'" if " " in c else f"--conf {c}" for c in conf
    ) + " pyspark-shell"


def stamp() -> dict:
    """What a result must be compared on."""
    import duckdb
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for base, _, names in sorted(os.walk(os.path.join(ROOT, ENGINE))):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(base, n), "rb") as f:
                    digest.update(n.encode() + f.read())
    return {
        "git_commit": commit, "engine_sha256": digest.hexdigest()[:16],
        "nproc": cores(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when the pipe PySpark holds to its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(values):
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"no {ENGINE}/ under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, base: str, work: str) -> int:
    trace = bool(args.trace)
    pin_environment(work, trace)
    load_before = os.getloadavg()
    from audios_to_dataset_spark.session import get_session

    workload = WORKLOADS[args.workload](work, args.seed)
    attempted = failed = 0
    problems: list[str] = []

    def account(r: PassResult) -> PassResult:
        nonlocal attempted, failed
        attempted += r.attempted
        failed += r.failed if r.failed else int(bool(r.problems))
        problems.extend(r.problems)
        return r

    t0 = time.perf_counter()
    workload.generate()
    t1 = time.perf_counter()
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    if isinstance(workload, QueryMix):
        account(workload.check_pass(spark))
    else:
        account(workload.run_pass(spark))
    setup_s = time.perf_counter() - t0
    setup_parts = {"generate_s": t1 - t0, "session_s": t2 - t1,
                   "warmup_s": t0 + setup_s - t2}

    passes: list[PassResult] = []
    traced: list[PassResult] = []
    tracer = Tracer(spark) if trace else None
    with RssSampler() as sampler:
        windows = []
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < args.seconds or not passes
               or (trace and not traced)):
            if trace and len(traced) < len(passes):
                traced.append(account(workload.traced_pass(
                    spark, tracer, sampler)))
                continue
            w0 = time.perf_counter()
            passes.append(account(workload.run_pass(spark)))
            windows.append((w0, time.perf_counter()))
        measured_s = time.perf_counter() - t_start
    stop_spark(spark)

    ok = [p for p in passes if not p.problems and not p.failed]
    if not ok:
        print("no pass succeeded:", *problems[:10], sep="\n  ",
              file=sys.stderr)
        return 1
    peaks = [sampler.peaks(a, b) for a, b in windows]
    run_s = median([p.run_s for p in ok])
    e2e = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "input_mb_per_s": (workload.input_bytes / MB / run_s, "MiB/s"),
        "peak_worker_rss_mb": (median([w for _, w in peaks]), "MiB"),
        "peak_jvm_rss_mb": (median([j for j, _ in peaks]), "MiB"),
        "out_bytes_per_in_byte": (
            median([p.out_bytes for p in ok]) / workload.input_bytes, "1"),
    }
    error_rate = failed / attempted
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "measured_s": measured_s,
        "setup_parts": setup_parts,
        "passes": len(passes), "pass_run_s": [p.run_s for p in passes],
        "error_rate": error_rate, "problems": problems[:20],
        "stamp": stamp(),
        "load_before": load_before, "load_after": os.getloadavg(),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    if trace:
        per_layer = per_layer_metrics(tracer, traced, run_s, work)
        metrics = {k: {"value": v, "unit": _unit(k)}
                   for k, v in per_layer.items()}
        record["per_layer"] = per_layer
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.write(os.path.join(
            base, "traces", f"{args.workload}-{args.seed}-spans.json"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{args.workload}-{args.seed}-"
                           f"t{args.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for k, (v, u) in e2e.items():
        print(f"{args.workload} {k} = {v:.4f} {u}")
    print(f"{args.workload} error_rate = {error_rate:.4f} "
          f"({failed} of {attempted} operations failed)")
    for p in problems[:10]:
        print(f"  problem: {p}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MiB"
    return "ratio" if suffix == "task_skew" else "count"


def per_layer_metrics(tracer: Tracer, traced: list[PassResult],
                      plain_run_s: float, work: str) -> dict[str, float]:
    """Medians over the traced passes of every per-layer metric; the
    task metrics of each span come from the event log."""
    import eventlog

    groups = eventlog.group_costs(eventlog.stage_costs(
        eventlog.read_events(os.path.join(work, "eventlog"))))
    names = per_layer_names()
    runs: list[dict[str, float]] = []
    passes = [s for s in tracer.spans if s.name == "pass"]
    for i, p in enumerate(passes):
        values = dict.fromkeys(names, 0.0)
        inside = [s for s in tracer.spans if p.start <= s.start <= p.end]
        # the layer spans of one ETL pipeline run growing prefixes of it
        for kind in ("speech", "clips"):
            spans = [s for s in inside if s.parent == f"{kind}.pipeline"]
            selfs = eventlog.prefix_self_times([s.wall_s for s in spans])
            for s, self_s in zip(spans, selfs):
                values[f"{s.name}.self_s"] = self_s
                cost = groups.get(s.group, eventlog.GroupCost())
                for k, v in cost.as_metrics().items():
                    values[f"{s.name}.{k}"] = v
        for s in inside:
            if s.name.startswith("plans."):
                cost = groups.get(s.group, eventlog.GroupCost())
                values[f"{s.name}.shuffle_write_mb"] = cost.shuffle_write_mb
                values[f"{s.name}.tasks"] = cost.tasks
        values.update(traced[i].extra)
        values["trace.overhead_s"] = traced[i].run_s - plain_run_s
        runs.append(values)
    return {k: (median([r[k] for r in runs])
                if all(r[k] is not None for r in runs) else None)
            for k in names}


if __name__ == "__main__":
    raise SystemExit(main())
