"""The benchmark's workloads. Each run is one client in the benchmark's
own process that stages its input from the seed (cached by seed and
size), starts the Spark session as ``local[nproc]`` and then times one
job: the first in that session, cold, as a user's process runs it.

- ``qf_batch``: the CLI batch job, ``open_thoughts_spark.__main__.main``
  with ``--input``/``--output``, over a seeded cut of a
  ``generate_transcripts`` table.
- ``curation_ops``: six curation queries of ``__spark_entry__``, each
  forced to a full result by a parquet write, one pass per job, over a
  seeded multi-file split of the committed testdata copy.

The job's output is checked against an oracle after it has been timed.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib
import io
import json
import math
import os
import shutil
import statistics
import threading
import time

import sparkstats
from harness import (
    RssSampler,
    Tracer,
    contention_probe,
    layer_self_times,
    prefix_stage_times,
)
from instrument import Instrumentation

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
# generate_transcripts(spark, n_convs=1000, seed=42), one file (README.md)
POOL = os.path.join(HERE, "data", "transcripts_pool.parquet")

QF_TURNS = 8192  # turns per staged transcripts table (whole conversations)
QF_LANGID_MODE = "udf"  # the CLI's default --langid-mode
QF_TABLES = ["decisions", "filtered", "metrics", "lineage", "rule_matrix"]
CURATION_QUERIES = [
    "code_exec_verify",
    "dedup_minhash_pairs",
    "dedup_simhash_bandblock",
    "embedding_neardup_banded",
    "decontaminate_ngram",
    "ann_lsh_top5",
]
CURATION_TABLES = ["documents", "embeddings"]
JOB_TIMEOUT_S = 120
MIB = 1024 * 1024

LAYERS = ["session", "sources", "functions", "rules", "pipeline", "operators", "entry", "spark"]


class Failure(Exception):
    """An operation that raised, timed out or disagreed with its oracle."""


class Run:
    """One benchmark run: arguments, paths, tracer and the tallies."""

    def __init__(self, workload: str, seed: int, trace: bool, t_start: float):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.t_start = t_start
        self.nproc = os.cpu_count() or 1
        self.master = f"local[{self.nproc}]"
        self.out = os.path.join(WORK, "out", workload)
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.details: dict = {}

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def probe(self, when: str) -> None:
        """Record a contention reading (outside setup and the timed loop)."""
        self.details.setdefault("contention", {})[when] = contention_probe(self.nproc)


def result_line(run: Run, metrics: dict) -> dict:
    """The last line a run prints; ``metrics`` maps name -> (value, unit)."""
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


# --------------------------------------------------------------------------
# the timed job
# --------------------------------------------------------------------------


def attempt(run: Run, spark, job) -> float | None:
    """Run ``job()``: its wall time, or None when it failed. A job that
    raises (an engine error, or Spark jobs cancelled after
    ``JOB_TIMEOUT_S``) counts as failed."""
    run.attempted += 1
    timer = threading.Timer(JOB_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    t0 = time.time()
    try:
        job()
        return time.time() - t0
    except Failure as e:
        run.fail(str(e))
    except Exception as e:  # an engine error fails the job, not the run
        run.fail(f"{type(e).__name__}: {e}")
    finally:
        timer.cancel()
    return None


def end_to_end(setup_s: float, wall: float, out_bytes: int, rows: int, in_bytes: int) -> dict:
    """End-to-end metrics of a run whose job passed its oracle."""
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (wall, "s"),
        "rows_per_s": (rows / wall, "rows/s"),
        "bytes_out_per_byte_in": (out_bytes / in_bytes, "ratio"),
    }


def timed_job(run: Run, spark, job, keep: tuple[str, ...] = ()) -> dict:
    """Time the job. In a traced run it runs inside the instrumentation
    under a root span ``job``, and right after it the SQL executions and
    stages it ran are read from the status stores."""
    if not run.trace:
        return {"wall": attempt(run, spark, job)}
    first_exec, first_stage = sparkstats.last_execution_id(spark), sparkstats.last_stage_id(spark)
    with RssSampler(os.getpid()) as rss, Instrumentation(run.tracer, keep) as inst:
        with run.tracer.span("job") as root:
            wall = attempt(run, spark, job)
    return {
        "wall": wall,
        "root": root,
        "executions": sparkstats.sql_executions(spark, first_exec + 1),
        "stages": sparkstats.stage_totals(spark, first_stage),
        "peak_rss": rss.peak,
        "returns": inst.returns,
        "overhead_s": inst.overhead_s(),
    }


# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------


def parquet_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def read_parquet(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def start_session(run: Run):
    from open_thoughts_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{run.workload}", master=run.master)
    run.details["session_start_s"] = time.time() - t0
    return spark


def stage_transcripts(seed: int, files: int, turns: int = QF_TURNS) -> str:
    """Whole conversations of the committed ``generate_transcripts`` pool,
    taken in seeded hash order, each one that still fits in ``turns``;
    rows in seeded order, written round-robin to ``files`` parquet files.
    Every seed gets (nearly) ``turns`` turns with the generator's own mix
    of strata and hot conversations."""
    import numpy as np
    import pyarrow.parquet as pq

    path = os.path.join(WORK, "inputs", f"qf-s{seed}-t{turns}-f{files}")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    pool = pq.read_table(POOL)
    conv = pool.column("conv_id").to_pandas()
    lens = conv.value_counts()
    taken, total = [], 0
    for c in sorted(lens.index, key=lambda c: hashlib.md5(f"{seed}/{c}".encode()).digest()):
        if total + lens[c] <= turns:
            taken.append(c)
            total += lens[c]
    rows = np.flatnonzero(conv.isin(taken).to_numpy())
    table = pool.take(np.random.default_rng(seed).permutation(rows))
    os.makedirs(path)
    for i in range(files):
        # INT96 timestamps, as Spark writes them
        pq.write_table(table.take(np.arange(i, table.num_rows, files)),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       use_deprecated_int96_timestamps=True)
    open(marker, "w").close()
    return path


def source_digest(*extra: str) -> str:
    """sha256 over the engine's sources and the given files: the key of
    every cached oracle answer (the oracles are engine code)."""
    digest = hashlib.sha256()
    files = [os.path.join(d, f)
             for d, _, fs in os.walk(os.path.join(ROOT, "open_thoughts_spark"))
             for f in fs if f.endswith(".py")]
    for path in sorted(files) + list(extra):
        with open(path, "rb") as fh:
            digest.update(os.path.relpath(path, ROOT).encode() + b"\0" + fh.read())
    return digest.hexdigest()


# --------------------------------------------------------------------------
# qf_batch
# --------------------------------------------------------------------------


def qf_oracle(input_path: str):
    """Per-turn oracle decisions for a staged transcripts table.

    Every row's decision depends on that row alone, so the oracle runs once
    over the whole pool (cached by source digest) and a seed's table takes
    its rows by key."""
    key = ["conv_id", "turn_idx"]
    path = os.path.join(WORK, "oracle", f"qf-pool-{source_digest(POOL)[:16]}.parquet")
    if not os.path.exists(path):
        from open_thoughts_spark.oracle.pandas_oracle import oracle_decisions

        pool = oracle_decisions(read_parquet(POOL))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pool[key + ["keep", "drop_reason", "scrubbed_text", "lang"]].to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
    staged = read_parquet(input_path)[key]
    return staged.merge(read_parquet(path), on=key, how="left")


def check_qf_batch(out: str, oracle) -> None:
    import pandas as pd

    for table in QF_TABLES:
        if not os.path.exists(os.path.join(out, table, "_SUCCESS")):
            raise Failure(f"{table} not committed")
    key = ["conv_id", "turn_idx"]
    got = read_parquet(os.path.join(out, "decisions"))
    if len(got) != len(oracle):
        raise Failure(f"decisions has {len(got)} rows, oracle {len(oracle)}")
    m = got.merge(oracle, on=key, how="inner", suffixes=("", "_o"))
    if len(m) != len(oracle):
        raise Failure("decisions keys differ from the input's")
    for col in ["keep", "drop_reason", "scrubbed_text", "lang"]:
        a, b = m[col].astype(object), m[f"{col}_o"].astype(object)
        bad = ~((a == b) | (a.isna() & b.isna()))
        if bad.any():
            raise Failure(f"decisions.{col} differs from the oracle on {int(bad.sum())} turns")
    metrics = read_parquet(os.path.join(out, "metrics"))
    want = oracle["drop_reason"].fillna("kept").value_counts()
    got_hist = pd.Series(metrics["rows"].to_numpy(), index=metrics["reason"]).sort_index()
    if not got_hist.equals(want.sort_index().astype(got_hist.dtype)):
        raise Failure("metrics histogram differs from the oracle's")


def qf_batch(run: Run) -> dict:
    cli = importlib.import_module("open_thoughts_spark.__main__").main
    inp = stage_transcripts(run.seed, run.nproc)
    spark = start_session(run)
    setup_s = time.time() - run.t_start
    run.probe("before")
    turns, in_bytes = int(read_parquet(inp).shape[0]), parquet_bytes(inp)
    run.details.update(turns=turns, input_bytes=in_bytes)
    out = os.path.join(run.out, "job")

    def job():
        # the CLI prints a summary line; the run's own output stays clean
        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli(["--input", inp, "--output", out, "--master", run.master])
        if rc != 0:
            raise Failure(f"exit code {rc}")

    timed = timed_job(run, spark, job)
    if timed["wall"] is None:
        return {}  # the failure is counted; a failed job has no metrics
    try:
        check_qf_batch(out, qf_oracle(inp))
        if run.trace:
            return qf_batch_layers(run, spark, timed, parquet_bytes(out), inp, turns)
    except Failure as e:
        run.fail(str(e))
        return {}
    except Exception as e:  # a check or trace that cannot run is counted, not raised
        run.fail(f"{type(e).__name__}: {e}")
        return {}
    return end_to_end(setup_s, timed["wall"], parquet_bytes(out), turns, in_bytes)


# cascade stages in the order pipeline.quality_filter composes them
PREFIXES = ["read", "langid", "perplexity", "decision", "scrub", "turn_order"]


def _noop_write_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def prefix_times(spark, input_path: str) -> list[tuple[str, float]]:
    """Time of each cumulative cascade prefix, each forced with a ``noop``
    write of all its columns. The prefixes up to scrub are composed here
    from the layers' functions and must plan the same as
    ``quality_filter(..., with_turn_order=False)``; the last prefix is
    ``quality_filter`` itself. A cascade that no longer composes this way
    fails the run instead of timing a stale copy."""
    from open_thoughts_spark.functions.langid import with_langid_udf
    from open_thoughts_spark.functions.perplexity import with_perplexity
    from open_thoughts_spark.pipeline.quality_filter import quality_filter, read_transcripts
    from open_thoughts_spark.rules.heuristics import with_decision, with_quality_flags
    from open_thoughts_spark.rules.scrub import with_scrubbed_text

    steps = {
        "read": lambda d: d,
        "langid": with_langid_udf,
        "perplexity": with_perplexity,
        "decision": lambda d: with_decision(
            with_quality_flags(d, role_col="role", ppl_col="bits_per_char")
        ),
        "scrub": with_scrubbed_text,
    }
    frame, out = read_transcripts(spark, input_path), []
    for name in PREFIXES[:-1]:
        frame = steps[name](frame)
        out.append((name, _noop_write_s(frame)))
    engine = quality_filter(read_transcripts(spark, input_path), langid_mode=QF_LANGID_MODE,
                            with_turn_order=False)
    if not frame._jdf.queryExecution().optimizedPlan().sameResult(
        engine._jdf.queryExecution().optimizedPlan()
    ):
        raise Failure("the cascade prefixes no longer plan like pipeline.quality_filter")
    full = quality_filter(read_transcripts(spark, input_path), langid_mode=QF_LANGID_MODE)
    out.append(("turn_order", _noop_write_s(full)))
    return out


def plan_build_s(spark, input_path: str) -> float:
    """Time to compose the batch job's decisions frame in Python plus the
    optimizer's time to its executed plan."""
    from open_thoughts_spark.pipeline.quality_filter import (
        RESULT_COLUMNS,
        quality_filter,
        read_transcripts,
    )

    t0 = time.perf_counter()
    df = quality_filter(read_transcripts(spark, input_path), langid_mode=QF_LANGID_MODE)
    df.select(*RESULT_COLUMNS)._jdf.queryExecution().executedPlan()
    return time.perf_counter() - t0


def qf_batch_layers(run: Run, spark, traced: dict, bytes_written: int, inp: str,
                    turns: int) -> dict:
    spans = run.tracer.spans

    def span_total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    py = sparkstats.python_udf_totals(traced["executions"], turns)
    stage_s = prefix_stage_times(prefix_times(spark, inp))
    out = per_layer_zeros()
    out.update(pipeline_counts(run, traced))
    out.update({
        "sources.scan_s": stage_s["read"],
        "sources.scan_tasks": spark.read.parquet(inp).rdd.getNumPartitions(),
        "sources.bytes_written": bytes_written,
        "functions.langid_s": stage_s["langid"],
        "functions.perplexity_s": stage_s["perplexity"],
        "functions.python_run_s": py["python_run_s"],
        "functions.python_start_s": py["python_start_s"],
        "functions.arrow_bytes_sent": py["arrow_bytes_sent"],
        "functions.udf_passes": py["udf_passes"],
        "rules.decision_s": stage_s["decision"],
        "rules.scrub_s": stage_s["scrub"],
        "pipeline.plan_build_s": plan_build_s(spark, inp),
        "pipeline.turn_order_s": stage_s["turn_order"],
    })
    for table in QF_TABLES:
        out[f"sources.write_s.{table}"] = span_total(f"sources.write.{table}")
    return with_units(out)


# --------------------------------------------------------------------------
# per-layer bookkeeping shared by the traced runs
# --------------------------------------------------------------------------

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scan_tasks": "count",
    **{f"sources.write_s.{t}": "s" for t in QF_TABLES},
    "sources.bytes_written": "bytes",
    "functions.langid_s": "s",
    "functions.perplexity_s": "s",
    "functions.python_run_s": "s",
    "functions.python_start_s": "s",
    "functions.arrow_bytes_sent": "bytes",
    "functions.udf_passes": "ratio",
    "rules.decision_s": "s",
    "rules.scrub_s": "s",
    "pipeline.plan_build_s": "s",
    "pipeline.turn_order_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.sql_executions": "count",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.core_busy_ratio": "ratio",
    **{f"operators.{q}_s": "s" for q in CURATION_QUERIES},
    "operators.judge_tests": "count",
    "operators.judge_ms_per_test": "ms",
    "operators.lsh_candidates": "count",
    "operators.lsh_verified": "count",
    "operators.shuffle_bytes": "bytes",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.peak_rss_mb": "MiB",
    "trace.uncovered_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_zeros() -> dict:
    """Every per-layer metric at 0; a workload fills in the layers it runs."""
    return {name: 0.0 for name in PER_LAYER}


def with_units(values: dict) -> dict:
    return {k: (float(v), PER_LAYER[k]) for k, v in values.items()}


def pipeline_counts(run: Run, traced: dict) -> dict:
    """Counters of the traced job: Spark's SQL executions and stages, the
    per-layer self times and the tracing overhead."""
    root = traced["root"]
    traced_job = root["end"] - root["start"]
    layers, uncovered = layer_self_times(run.tracer.spans, root["id"])
    unknown = set(layers) - set(LAYERS)
    if unknown:
        raise RuntimeError(f"spans outside the known layers: {sorted(unknown)}")
    execs, st = traced["executions"], traced["stages"]
    out = {f"{layer}.self_s": layers.get(layer, 0.0) for layer in LAYERS}
    out.update({
        "session.start_s": run.details["session_start_s"],
        "pipeline.sql_executions": len(execs),
        "pipeline.spark_jobs": sum(e["jobs"] for e in execs),
        "pipeline.shuffle_bytes": st["shuffle_bytes"],
        "pipeline.spill_bytes": st["spill_bytes"],
        "pipeline.core_busy_ratio": st["run_s"] / (traced_job * run.nproc),
        "trace.peak_rss_mb": traced["peak_rss"] / MIB,
        "trace.uncovered_s": uncovered,
        "trace.job_s": traced_job,
        "trace.overhead_s": traced["overhead_s"],
    })
    path = os.path.join(run.out, "spans.json")
    with open(path, "w") as f:
        json.dump(run.tracer.spans, f)
    run.details["spans"] = path
    return out


# --------------------------------------------------------------------------
# curation_ops
# --------------------------------------------------------------------------


def stage_curation(seed: int, nproc: int) -> str:
    """The committed testdata tables split into ``nproc`` parquet files
    each; the seed picks which rows go to which file, and their order."""
    import numpy as np
    import pyarrow.parquet as pq

    path = os.path.join(WORK, "inputs", f"cur-s{seed}-n{nproc}")
    marker = os.path.join(path, "_READY")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    rng = np.random.default_rng(seed)
    for t in CURATION_TABLES:
        table = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        order = rng.permutation(table.num_rows)
        os.makedirs(os.path.join(path, f"{t}.parquet"))
        for i in range(nproc):
            pq.write_table(table.take(order[i::nproc]),
                           os.path.join(path, f"{t}.parquet", f"part-{i:05d}.parquet"))
    open(marker, "w").close()
    return path


def _canon(v):
    # mirrors tests/test_entry_oracle.py: int and float are different values
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", round(v, 9))
    if isinstance(v, int):
        return ("i", v)
    return (type(v).__name__, str(v))


def normalized(rows, columns) -> list:
    """Order-free canonical form of a result (JSON round-trips it)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [list(map(list, r)) for r in sorted(tuple(_canon(r[i]) for i in order) for r in rows)]


def curation_oracle(sf_dir: str) -> dict:
    """Each query's DuckDB oracle answer, as (sorted columns, normalized
    rows). The answers do not depend on the seed's split, so they are
    cached by the digest of the engine, the queries and the data."""
    data = [os.path.join(DATA, f"{t}.parquet") for t in CURATION_TABLES]
    path = os.path.join(WORK, "oracle", "curation-"
                        + source_digest(os.path.join(ROOT, "__spark_entry__.py"), *data)[:16]
                        + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in CURATION_TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
    sql = entry.oracle_sql()
    out = {}
    for q in CURATION_QUERIES:
        res = con.execute(sql[q])
        cols = [d[0] for d in res.description]
        out[q] = [sorted(cols), normalized(res.fetchall(), cols)]
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return json.loads(json.dumps(out))


def curation_ops(run: Run) -> dict:
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    sf_dir = stage_curation(run.seed, run.nproc)
    spark = start_session(run)
    setup_s = time.time() - run.t_start
    run.probe("before")
    in_rows = sum(len(read_parquet(os.path.join(sf_dir, f"{t}.parquet"))) for t in CURATION_TABLES)
    in_bytes = parquet_bytes(sf_dir)
    queries = entry.queries()
    d = os.path.join(run.out, "pass")
    query_s: dict[str, float] = {}

    def one_pass():
        for q in CURATION_QUERIES:
            t0 = time.time()
            with run.tracer.span(f"entry.{q}"):
                queries[q](spark, sf_dir).write.mode("overwrite").parquet(os.path.join(d, q))
            query_s[q] = time.time() - t0

    timed = timed_job(run, spark, one_pass, ("operators.candidate_pairs",))

    run.details.update(input_rows=in_rows, input_bytes=in_bytes, query_s=query_s)
    if timed["wall"] is None:
        return {}  # the failure is counted; a failed job has no metrics
    oracle = curation_oracle(sf_dir)
    bad = []
    for q in CURATION_QUERIES:
        got = pq.read_table(os.path.join(d, q))
        want_cols, want_rows = oracle[q]
        rows = list(zip(*(c.to_pylist() for c in got.columns)))
        if sorted(got.column_names) != want_cols or normalized(rows, got.column_names) != want_rows:
            bad.append(q)
    if bad:
        run.fail(f"{', '.join(bad)} differ from the oracle")
        return {}
    if run.trace:
        return curation_layers(run, timed, d, query_s)
    return end_to_end(setup_s, timed["wall"], parquet_bytes(d), in_rows, in_bytes)


def curation_layers(run: Run, traced: dict, d: str, times: dict) -> dict:
    tests = int(read_parquet(os.path.join(d, "code_exec_verify"))["n_tests"].sum())
    cands = traced["returns"].get("operators.candidate_pairs")
    out = per_layer_zeros()
    counts = pipeline_counts(run, traced)
    out.update(counts)
    out.update({f"operators.{q}_s": times[q] for q in CURATION_QUERIES})
    out.update({
        "operators.judge_tests": tests,
        "operators.judge_ms_per_test": 1000 * times["code_exec_verify"] / tests if tests else 0.0,
        "operators.lsh_candidates": cands.count() if cands is not None else 0,
        "operators.lsh_verified": len(read_parquet(os.path.join(d, "dedup_minhash_pairs"))),
        "operators.shuffle_bytes": counts["pipeline.shuffle_bytes"],
    })
    return with_units(out)


WORKLOADS = {"qf_batch": qf_batch, "curation_ops": curation_ops}
