"""The correctness gate: Spark pipeline vs single-process pandas oracle.

FIXTURES.md golden-oracle contract: per-turn keep/drop F1 >= 0.99 (target 1.0
on the fixture), exact scrubbed-text equality, and drop-reason metric counts
equal to the oracle's groupby counts.
"""

from __future__ import annotations

import pandas as pd
import pytest

from open_thoughts_spark.oracle import oracle_decisions
from open_thoughts_spark.pipeline import quality_filter, drop_reason_metrics

KEY = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def spark_result(spark, transcripts_path) -> pd.DataFrame:
    df = spark.read.parquet(transcripts_path)
    out = quality_filter(df, langid_mode="native")
    cols = KEY + [
        "role",
        "lang",
        "lang_prob",
        "bits_per_char",
        "drop_reason",
        "keep",
        "scrubbed_text",
    ]
    return out.select(*cols).toPandas().sort_values(KEY).reset_index(drop=True)


@pytest.fixture(scope="module")
def oracle_result(transcripts_pdf) -> pd.DataFrame:
    return oracle_decisions(transcripts_pdf).sort_values(KEY).reset_index(drop=True)


def test_fixture_covers_all_rules(oracle_result):
    reasons = set(oracle_result["drop_reason"].dropna().unique())
    expected = {
        "empty",
        "too_short",
        "too_long",
        "boilerplate",
        "url_artifact",
        "non_english",
        "repetition",
        "symbol_heavy",
        "high_perplexity",
    }
    missing = expected - reasons
    assert not missing, f"fixture never triggers: {missing}"
    # and a healthy majority is kept
    assert oracle_result["keep"].mean() > 0.4


def test_keep_drop_f1(spark_result, oracle_result):
    assert len(spark_result) == len(oracle_result)
    assert (spark_result["conv_id"] == oracle_result["conv_id"]).all()
    s = spark_result["keep"].to_numpy()
    o = oracle_result["keep"].to_numpy()
    tp = (s & o).sum()
    fp = (s & ~o).sum()
    fn = (~s & o).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} < 0.99"
    # on the deterministic fixture we expect exact agreement
    assert f1 == 1.0, f"expected exact agreement, got F1={f1:.6f}"


def test_drop_reasons_match(spark_result, oracle_result):
    s = spark_result["drop_reason"].fillna("kept")
    o = oracle_result["drop_reason"].fillna("kept")
    mismatch = (s != o)
    assert mismatch.sum() == 0, (
        f"{mismatch.sum()} reason mismatches, e.g.\n"
        f"{pd.DataFrame({'spark': s[mismatch], 'oracle': o[mismatch]}).head(10)}"
    )


def test_scrubbed_text_exact(spark_result, oracle_result):
    s = spark_result["scrubbed_text"]
    o = oracle_result["scrubbed_text"]
    neq = (s != o)
    assert neq.sum() == 0, (
        f"{neq.sum()} scrub mismatches, e.g. spark={s[neq].iloc[0]!r} "
        f"oracle={o[neq].iloc[0]!r}"
    )


def test_langid_and_ppl_match(spark_result, oracle_result):
    assert (spark_result["lang"] == oracle_result["lang"]).all()
    assert (
        (spark_result["lang_prob"] - oracle_result["lang_prob"]).abs() < 1e-12
    ).all()
    assert (
        (spark_result["bits_per_char"] - oracle_result["bits_per_char"]).abs() < 1e-9
    ).all()


def test_udf_langid_mode_agrees(spark, transcripts_path, spark_result):
    df = spark.read.parquet(transcripts_path)
    out = (
        quality_filter(df, langid_mode="udf", with_turn_order=False)
        .select("conv_id", "turn_idx", "lang", "lang_prob", "keep")
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert (out["lang"] == spark_result["lang"]).all()
    assert (out["keep"] == spark_result["keep"]).all()


def test_metrics_match_oracle_counts(spark, transcripts_path, oracle_result):
    df = spark.read.parquet(transcripts_path)
    m = drop_reason_metrics(quality_filter(df)).toPandas()
    spark_counts = dict(zip(m["reason"], m["rows"]))
    oracle_counts = (
        oracle_result["drop_reason"].fillna("kept").value_counts().to_dict()
    )
    assert spark_counts == oracle_counts


def test_turn_rank_is_stable_ordering(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    out = quality_filter(df, with_turn_order=True).select(
        "conv_id", "turn_idx", "turn_rank"
    )
    bad = out.filter((out.turn_rank - 1) != out.turn_idx).count()
    assert bad == 0  # turn_idx is dense from 0 → rank-1 == idx despite shuffled layout


def test_rule_hit_matrix_invariants(spark, transcripts_path):
    """Ablation matrix consistency: attributed <= hits per rule, attributed
    totals equal the cascade's drop counts exactly, and shadowed is their
    gap. The first rule in RULE_ORDER can never be shadowed."""
    from open_thoughts_spark.pipeline.metrics import (
        drop_reason_metrics,
        rule_hit_matrix,
    )
    from open_thoughts_spark import config

    df = spark.read.parquet(transcripts_path)
    out = quality_filter(df, with_turn_order=False)
    matrix = {r["rule"]: r for r in rule_hit_matrix(out).collect()}
    reasons = {
        r["reason"]: r["rows"] for r in drop_reason_metrics(out).collect()
    }
    assert set(matrix)  # non-empty rule inventory
    for rule, row in matrix.items():
        assert 0 <= row["attributed"] <= row["hits"]
        assert row["shadowed"] == row["hits"] - row["attributed"]
        assert row["attributed"] == reasons.get(rule, 0)
    first = next(r for r in config.RULE_ORDER if r in matrix)
    assert matrix[first]["shadowed"] == 0
    # overlap really exists in the fixture (otherwise the matrix adds
    # nothing over the metrics table and the test proves too little)
    assert any(r["shadowed"] > 0 for r in matrix.values())


def _sql_store(spark):
    """The SQL status store (with a converter for its Scala collections),
    once the listener bus has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    return store, spark._jvm.scala.jdk.javaapi.CollectionConverters


@pytest.fixture(scope="module")
def written_run(spark, transcripts_path, tmp_path_factory) -> dict:
    """One ``run_pipeline`` call with an output dir: the output dir, the
    frames it returned and how many of its SQL executions ran a Python UDF
    (a plan with an ``ArrowEvalPython`` node)."""
    from open_thoughts_spark.pipeline import run_pipeline

    store, conv = _sql_store(spark)
    last = max((e.executionId() for e in conv.asJava(store.executionsList())), default=-1)
    out = str(tmp_path_factory.mktemp("run_pipeline"))
    frames = run_pipeline(spark, transcripts_path, output_dir=out, langid_mode="udf")
    store, conv = _sql_store(spark)
    udf_executions = sum(
        any(
            n.name() == "ArrowEvalPython"
            for n in conv.asJava(store.planGraph(e.executionId()).allNodes())
        )
        for e in conv.asJava(store.executionsList())
        if e.executionId() > last
    )
    return {"out": out, "frames": frames, "udf_executions": udf_executions}


def _rows(df: pd.DataFrame, key: list[str]) -> pd.DataFrame:
    return df.sort_values(key).reset_index(drop=True)


def test_run_pipeline_writes_lazy_tables_in_one_cascade_pass(
    spark, transcripts_path, written_run
):
    """The five written tables equal the lazy definitions over the same
    input — lineage's partition_id included — and the cascade's Python
    UDFs run in exactly one SQL execution of the call (the decisions
    write); every other table is derived from the written decisions."""
    from open_thoughts_spark.pipeline.metrics import partition_lineage, rule_hit_matrix
    from open_thoughts_spark.pipeline.quality_filter import RESULT_COLUMNS

    assert written_run["udf_executions"] == 1
    out = written_run["out"]
    decided = quality_filter(spark.read.parquet(transcripts_path), langid_mode="udf")
    decisions = decided.select(*RESULT_COLUMNS).toPandas()
    kept = decisions[decisions["keep"]].drop(columns=["keep", "drop_reason"])
    want = {
        "decisions": (decisions, KEY),
        # the kept rows of the same decisions (not a re-scored frame: the
        # perplexity kernel's last digits depend on the Arrow batch)
        "filtered": (kept, KEY),
        "metrics": (drop_reason_metrics(decided).toPandas(), ["reason"]),
        "lineage": (partition_lineage(decided).toPandas(), ["partition_id"]),
        "rule_matrix": (rule_hit_matrix(decided).toPandas(), ["rule"]),
    }
    for name, (expected, key) in want.items():
        got = spark.read.parquet(f"{out}/{name}").toPandas()
        assert list(got.columns) == list(expected.columns), name
        pd.testing.assert_frame_equal(
            _rows(got, key), _rows(expected, key), check_dtype=False, obj=name
        )
        # the returned frames read the written tables
        returned = written_run["frames"][name].toPandas()
        pd.testing.assert_frame_equal(_rows(returned, key), _rows(got, key), obj=name)


def test_lineage_agrees_with_written_files(spark, transcripts_path, written_run):
    """lineage rows_in per partition_id is the row count of decisions file
    part-<partition_id>; rows_in and rows_kept sum to the input turns and
    the filtered rows."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = written_run["out"]
    lineage = spark.read.parquet(f"{out}/lineage").toPandas()
    files: dict[int, int] = {}
    for f in glob.glob(f"{out}/decisions/part-*.parquet"):
        part = int(os.path.basename(f).split("-")[1])
        files[part] = files.get(part, 0) + pq.ParquetFile(f).metadata.num_rows
    assert len(files) > 1  # several partitions, or the mapping proves nothing
    assert dict(zip(lineage["partition_id"], lineage["rows_in"])) == files
    assert lineage["rows_in"].sum() == spark.read.parquet(transcripts_path).count()
    assert lineage["rows_kept"].sum() == spark.read.parquet(f"{out}/filtered").count()
    assert (lineage["rows_dropped"] == lineage["rows_in"] - lineage["rows_kept"]).all()
