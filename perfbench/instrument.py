"""Spans around calls into the engine's layers, recorded from the
benchmark's side: the listed public functions are swapped for timing
wrappers in every loaded engine module that references them, for the
length of a traced region. The engine's files are not changed.

Only entry points that run in the application's main process are listed.
A function that a UDF closure looks up by name would be pickled with its
wrapper into the Python workers, so helpers such as
``code_judge.judge_one`` stay unwrapped.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time

from harness import Tracer

# layer -> (module, function names); a layer is a package of the engine
TARGETS = {
    "session": [("open_thoughts_spark.session", ["get_spark"])],
    "functions": [
        ("open_thoughts_spark.functions.langid", ["with_langid_udf", "with_langid"]),
        ("open_thoughts_spark.functions.perplexity", ["with_perplexity"]),
    ],
    "rules": [
        ("open_thoughts_spark.rules.heuristics", ["with_quality_flags", "with_decision"]),
        ("open_thoughts_spark.rules.scrub", ["with_scrubbed_text"]),
    ],
    "pipeline": [
        ("open_thoughts_spark.pipeline.quality_filter",
         ["read_transcripts", "quality_filter", "run_pipeline"]),
        ("open_thoughts_spark.pipeline.metrics",
         ["drop_reason_metrics", "partition_lineage", "rule_hit_matrix"]),
    ],
    "operators": [
        ("open_thoughts_spark.operators.dedup",
         ["minhash_signature", "lsh_bands", "candidate_pairs", "jaccard_pairs",
          "simhash32", "simhash_neardup_pairs"]),
        ("open_thoughts_spark.operators.similarity", ["cosine_pairs_banded", "ann_lsh_topk"]),
        ("open_thoughts_spark.operators.decontaminate", ["contaminated_ids"]),
        ("open_thoughts_spark.operators.code_judge", ["code_exec_judge"]),
    ],
}


def _engine_modules() -> list:
    return [
        m for name, m in list(sys.modules.items())
        if m is not None and (name.startswith("open_thoughts_spark") or name == "__spark_entry__")
    ]


class Instrumentation:
    """Installs the wrappers (``with Instrumentation(tracer, keep):``). The
    return values of the wrapped functions named in ``keep`` (span names)
    are kept in ``returns``, so a traced run can count, after the timed
    region, what an intermediate frame held."""

    def __init__(self, tracer: Tracer, keep: tuple[str, ...] = ()):
        self.tracer, self.keep = tracer, keep
        self.returns: dict[str, object] = {}
        self._undo: list[tuple[object, str, object]] = []
        self._swap_s = 0.0  # time spent installing and removing wrappers

    def overhead_s(self) -> float:
        """Time tracing added to the traced region: installing and
        removing the wrappers, plus each recorded span's bookkeeping at the
        cost of a wrapped no-op call (calibrated here)."""
        calls = 2000
        probe = Instrumentation(Tracer())._wrap(lambda: None, "calibrate.noop")
        t0 = time.perf_counter()
        for _ in range(calls):
            probe()
        per_span = (time.perf_counter() - t0) / calls
        return self._swap_s + len(self.tracer.spans) * per_span

    def _wrap(self, fn, span_name: str):
        tracer, returns = self.tracer, self.returns
        keep = span_name in self.keep

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            if keep:
                returns[span_name] = out
            return out

        return wrapper

    def _swap(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def __enter__(self):
        t0 = time.perf_counter()
        self._install()
        self._swap_s += time.perf_counter() - t0
        return self

    def _install(self) -> None:
        # import every target first: a module imported after a swap would
        # bind the wrapper with ``from ... import`` and keep it
        for entries in TARGETS.values():
            for mod_name, _ in entries:
                importlib.import_module(mod_name)
        for layer, entries in TARGETS.items():
            for mod_name, names in entries:
                mod = sys.modules[mod_name]
                for name in names:
                    orig = getattr(mod, name)
                    wrapped = self._wrap(orig, f"{layer}.{name}")
                    for m in _engine_modules():
                        for attr, value in list(vars(m).items()):
                            if value is orig:
                                self._swap(m, attr, wrapped)

        from pyspark.sql import DataFrameWriter

        try:  # Spark 4 splits the classic DataFrame, which defines collect, from the API
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        tracer, parquet = self.tracer, DataFrameWriter.parquet

        @functools.wraps(parquet)
        def parquet_write(writer, path, *args, **kwargs):
            with tracer.span(f"sources.write.{os.path.basename(str(path).rstrip('/'))}"):
                return parquet(writer, path, *args, **kwargs)

        self._swap(DataFrameWriter, "parquet", parquet_write)
        # actions the engine's callers run themselves (the CLI collects its
        # metrics frame) land in a layer of their own
        self._swap(DataFrame, "collect", self._wrap(DataFrame.collect, "spark.collect"))

    def __exit__(self, *exc):
        t0 = time.perf_counter()
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()
        self._swap_s += time.perf_counter() - t0
        return False
