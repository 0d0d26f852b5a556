"""The flagship end-to-end quality-filter pipeline.

Single declarative DataFrame chain (north_star, BASELINE.json):

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      → language ID                        [native marker exprs / pandas-UDF harness]
      → n-gram perplexity                  [vectorized Arrow UDF]
      → heuristic rule flags               [native column exprs, codegen]
      → reason cascade → keep/drop         [Alpaca utils:135-161 pattern]
      → PII/toxicity scrub                 [native regexp_replace chain]
      → window over (conv_id, turn_idx)    [stable turn ordering: turn_rank]
      → outputs: decisions (the one pass), then filtered table, drop-reason
        metrics, per-partition lineage, rule matrix derived from it

Scale notes (the 100 TB story):
- Every per-turn step is narrow — no shuffle at all until the optional
  conversation-level stats join; a 10^12-turn run is a single map stage.
- The turn-ordering window shuffles by conv_id; hot conversations (skew) are
  bounded (≤ ~10^3 turns/conv) so a window partition is small by construction;
  AQE skew-join handles the conv-stats join for pathological keys.
- Scrub + heuristics are whole-stage-codegen'd JVM expressions; only langid
  (optional UDF harness mode) and perplexity cross into Python, batched via
  Arrow with the model loaded once per worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_thoughts_spark.functions.langid import with_langid, with_langid_udf
from open_thoughts_spark.functions.perplexity import with_perplexity
from open_thoughts_spark.rules.heuristics import with_decision, with_quality_flags
from open_thoughts_spark.rules.scrub import with_scrubbed_text


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Read the transcripts table (parquet; on a real deployment this is
    ``spark.read.table("catalog.db.transcripts")`` over Iceberg — same plan)."""
    return spark.read.parquet(path)


def quality_filter(
    df: DataFrame,
    langid_mode: str = "udf",
    with_turn_order: bool = True,
    with_conv_stats: bool = False,
    compute_ppl: bool = True,
    role_col: str | None = "role",
) -> DataFrame:
    """Attach lang/lang_prob, bits_per_char, rule flags, drop_reason, keep,
    scrubbed_text (and optionally window/conv-level columns) to transcripts.

    ``langid_mode``: 'udf' (default) = vectorized pandas-UDF harness — the
    shape a real fastText model plugs into, and measured FASTER than the
    native variant (pandas str.count over Arrow batches beats five
    regexp_count exprs because each JVM regex call re-materializes the
    UTF-16 string); 'native' = pure Catalyst regexp_count exprs (identical
    results, no Python dependency — the right mode for SQL-only contexts).
    """
    scored = with_langid_udf(df) if langid_mode == "udf" else with_langid(df)
    if compute_ppl:
        scored = with_perplexity(scored)
    flagged = with_quality_flags(
        scored,
        role_col=role_col,
        ppl_col="bits_per_char" if compute_ppl else None,
    )
    decided = with_decision(flagged)
    out = with_scrubbed_text(decided)
    if with_turn_order:
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        out = out.withColumn("turn_rank", F.row_number().over(w))
    if with_conv_stats:
        # conversation-level aggregate, joined back; partial aggregation is
        # map-side (Catalyst), AQE splits skewed join partitions at runtime
        stats = out.groupBy("conv_id").agg(
            F.count("*").alias("conv_turns"),
            F.sum(F.col("keep").cast("int")).alias("conv_kept_turns"),
        )
        out = out.join(stats, on="conv_id", how="left")
    return out


RESULT_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "lang",
    "lang_prob",
    "bits_per_char",
    "drop_reason",
    "keep",
    "scrubbed_text",
]


def checkpointed_stages(langid_mode: str = "native") -> list:
    """The pipeline as named checkpoint stages (see pipeline/checkpoint.py).

    Stage boundaries are chosen where recomputation is expensive (model
    scoring) vs cheap (final projection): score → decide → finalize.
    """
    from open_thoughts_spark.pipeline.checkpoint import Stage

    def _score(df: DataFrame) -> DataFrame:
        scored = with_langid_udf(df) if langid_mode == "udf" else with_langid(df)
        return with_perplexity(scored)

    def _decide(df: DataFrame) -> DataFrame:
        return with_decision(with_quality_flags(df))

    def _finalize(df: DataFrame) -> DataFrame:
        out = with_scrubbed_text(df)
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        out = out.withColumn("turn_rank", F.row_number().over(w))
        return out.select(*RESULT_COLUMNS, "turn_rank")

    # content-addressed configs: any edit to the rule/scoring modules or
    # their governing constants changes the digest and invalidates the
    # checkpoint chain (no hand-bumped version strings — ADVICE r1)
    from open_thoughts_spark import config as _cfg
    from open_thoughts_spark.functions import langid as _langid
    from open_thoughts_spark.functions import perplexity as _ppl
    from open_thoughts_spark.pipeline.checkpoint import semantics_digest
    from open_thoughts_spark.rules import heuristics as _heur
    from open_thoughts_spark.rules import phrases as _phr
    from open_thoughts_spark.rules import scrub as _scrub

    cfg_state = {
        k: v for k, v in vars(_cfg).items() if k.isupper() and not k.startswith("_")
    }
    return [
        Stage(
            "score",
            _score,
            {
                "langid_mode": langid_mode,
                "model": semantics_digest(_langid, _ppl, cfg_state),
            },
        ),
        Stage(
            "decide",
            _decide,
            {
                "ruleset": semantics_digest(
                    _heur, _phr, cfg_state, _phr.boilerplate_regex()
                )
            },
        ),
        Stage("finalize", _finalize, {"scrub": semantics_digest(_scrub)}),
    ]


def run_checkpointed(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    langid_mode: str = "native",
    use_catalog: bool = True,
    rollback_to: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Resumable run: returns (final decisions DataFrame, stage audit events).

    ``use_catalog`` (default) commits stage boundaries through the
    snapshot catalog under ``checkpoint_dir/catalog`` — the north rule's
    'resumable from Iceberg snapshot checkpoint' contract: stage hash ->
    snapshot id, resume = catalog time-travel read, rollback via
    ``rollback_to``/``CheckpointedPipeline.rollback_to``. ``False`` keeps
    raw parquet stage dirs (both manifest shapes read back transparently).

    ``rollback_to`` (catalog mode only): before running, repoint the
    catalog at the named stage's snapshot and invalidate downstream stage
    hashes — the run then resumes at that stage and recomputes the
    suffix."""
    from open_thoughts_spark.pipeline.checkpoint import CheckpointedPipeline

    df = read_transcripts(spark, input_path)
    catalog = table = None
    if use_catalog:
        from open_thoughts_spark.sources.snapshots import SnapshotCatalog

        catalog, table = SnapshotCatalog(f"{checkpoint_dir}/catalog"), "qf_stages"
    pipe = CheckpointedPipeline(
        spark, checkpoint_dir, checkpointed_stages(langid_mode),
        catalog=catalog, table=table,
    )
    if rollback_to:
        pipe.rollback_to(rollback_to, input_fingerprint=input_path)
    out = pipe.run(df, input_fingerprint=input_path)
    return out, pipe.events


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_dir: str | None = None,
    langid_mode: str = "native",
    cluster_output: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Run the full pipeline; optionally write the five output tables.

    Outputs: ``decisions`` (every turn with keep/drop + reason),
    ``filtered`` (kept turns, scrubbed), ``metrics`` (drop-reason counts),
    ``lineage`` (per-partition row accounting) and ``rule_matrix``
    (per-rule ablation counts). ``cluster_output`` range-clusters the
    ``filtered`` table on those columns at write time
    (:func:`~open_thoughts_spark.sources.sinks.write_clustered_table`), so
    downstream readers of the curated corpus get min/max file skipping on
    the cluster key (e.g. ``conv_id``).

    Without ``output_dir`` the tables are returned as lazy frames over one
    cascade. With it the cascade runs exactly once, in the ``decisions``
    write: the rule counters are observed on that write
    (``DataFrame.observe``), ``filtered``, ``metrics`` and ``lineage`` are
    derived from the written decisions, and the returned frames read the
    written tables. ``lineage.partition_id`` is the part number of the
    decisions file — the id of the cascade partition that wrote it, the
    ``spark_partition_id()`` that :func:`partition_lineage` groups by.
    """
    from pyspark.sql import Observation

    from open_thoughts_spark.pipeline.metrics import (
        drop_reason_metrics,
        part_number,
        partition_lineage,
        row_accounting,
        rule_hit_counters,
        rule_hit_matrix,
        rule_hit_rows,
        rule_names,
    )

    def kept(decisions: DataFrame) -> DataFrame:
        return decisions.filter(F.col("keep")).drop("keep", "drop_reason")

    df = read_transcripts(spark, input_path)
    decided = quality_filter(df, langid_mode=langid_mode)
    decisions = decided.select(*RESULT_COLUMNS)
    if not output_dir:
        return {
            "decisions": decisions,
            "filtered": kept(decisions),
            "metrics": drop_reason_metrics(decided),
            "lineage": partition_lineage(decided),
            "rule_matrix": rule_hit_matrix(decided),
        }

    def read_back(name: str, like: DataFrame) -> DataFrame:
        # the schema is known: no inference job per read
        return spark.read.schema(like.schema).parquet(f"{output_dir}/{name}")

    rules = rule_names(decided)
    observed = Observation("rule_hits")
    decided.observe(observed, *rule_hit_counters(rules)).select(
        *RESULT_COLUMNS
    ).write.mode("overwrite").parquet(f"{output_dir}/decisions")

    # everything below reads the written decisions; no UDF runs again
    written = read_back("decisions", decisions)
    # the observed row as a one-partition frame: rule_matrix stays one file
    counters = spark.range(1, numPartitions=1).selectExpr(
        *(f"cast({'null' if v is None else v} as bigint) as {k}"
          for k, v in observed.get.items())
    )
    derived = {
        "filtered": kept(written),
        "metrics": drop_reason_metrics(written),
        "lineage": row_accounting(written, part_number()),
        "rule_matrix": rule_hit_rows(counters, rules),
    }
    for name, frame in derived.items():
        if name == "filtered" and cluster_output:
            from open_thoughts_spark.sources.sinks import write_clustered_table

            write_clustered_table(frame, f"{output_dir}/{name}", cluster_output)
        else:
            frame.write.mode("overwrite").parquet(f"{output_dir}/{name}")
    return {
        "decisions": written,
        **{name: read_back(name, frame) for name, frame in derived.items()},
    }
