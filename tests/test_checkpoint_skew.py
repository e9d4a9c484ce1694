"""Checkpoint/resume semantics (north rule) + skew handling tests."""

import os

import pytest
from pyspark.sql import functions as F

from autoscan_spark.operators.extract import drop_failed, extract_turns
from autoscan_spark.operators.fold import fold_documents
from autoscan_spark.plans.checkpoint import CheckpointedExtraction, with_bucket
from autoscan_spark.sources.transcripts import synthesize_transcripts

N_CONVS = 40


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(spark, N_CONVS, seed=7).cache()
    df.count()
    return df


def _read_sorted(spark, path, cols):
    return [
        tuple(r)
        for r in spark.read.parquet(path).select(*cols).orderBy(*cols).collect()
    ]


def test_kill_resume_no_duplicates(spark, transcripts, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt"))
    one_shot = CheckpointedExtraction(root=os.path.join(base, "oneshot"), n_buckets=8)
    resumed = CheckpointedExtraction(root=os.path.join(base, "resumed"), n_buckets=8)

    # reference: single uninterrupted run
    assert one_shot.run(transcripts, waves=1) == 8

    # killed run: 4 waves planned, die after 2 commits
    first = resumed.run(transcripts, waves=4, max_waves=2)
    assert 0 < first < 8
    committed_mid = resumed.committed_buckets(spark)
    assert len(committed_mid) == first

    # resume: only the remaining buckets are processed
    second = resumed.run(transcripts, waves=1)
    assert first + second == 8
    assert resumed.run(transcripts) == 0  # fully committed → no-op

    cols = ["conv_id", "turn_idx", "extracted_text", "status"]
    assert _read_sorted(spark, resumed.extracted_path, cols) == _read_sorted(
        spark, one_shot.extracted_path, cols
    )
    dcols = ["conv_id", "markdown"]
    assert _read_sorted(spark, resumed.docs_path, dcols) == _read_sorted(
        spark, one_shot.docs_path, dcols
    )

    # no duplicates: (conv_id, turn_idx) unique
    ex = spark.read.parquet(resumed.extracted_path)
    assert ex.count() == ex.select("conv_id", "turn_idx").distinct().count()


def test_recommit_partial_bucket_idempotent(spark, transcripts, tmp_path_factory):
    """Re-running a bucket (e.g. crash AFTER data write but BEFORE the lineage
    commit) must overwrite, not append."""
    base = str(tmp_path_factory.mktemp("ckpt2"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck.run(transcripts, waves=4, max_waves=1)
    n1 = spark.read.parquet(ck.extracted_path).count()

    # simulate "data written, lineage commit lost": wipe lineage, rerun all
    import shutil

    shutil.rmtree(ck.lineage_path)
    ck.run(transcripts, waves=1)
    ex = spark.read.parquet(ck.extracted_path)
    assert ex.select("conv_id", "turn_idx").distinct().count() == ex.count()
    assert ex.count() >= n1


def test_lineage_contents(spark, transcripts, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt3"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck.run(transcripts)
    lin = ck.lineage(spark)
    rows = lin.collect()
    assert {r["partition_id"] for r in rows} == {0, 1, 2, 3}
    assert sum(r["rows_in"] for r in rows) == transcripts.count()
    ok_count = drop_failed(extract_turns(transcripts, mode="low")).count()
    assert sum(r["rows_out"] for r in rows) == ok_count
    assert all(r["extractor_version"] == "ex-v1" for r in rows)
    assert all(r["wave_wall_s"] > 0 for r in rows)
    assert all(r["committed_at"] is not None for r in rows)
    # single run, waves=1 → one commit group, one shared wave wall
    assert {r["wave_id"] for r in rows} == {0}
    assert len({r["wave_wall_s"] for r in rows}) == 1


def test_lineage_wave_ids_distinguish_commit_groups(spark, transcripts, tmp_path_factory):
    """waves=4 over 4 buckets → each bucket is its own commit group: lineage
    must carry DISTINCT wave ids (and per-wave walls), so a wave's wall is
    never misread as a per-bucket measurement."""
    base = str(tmp_path_factory.mktemp("ckptw"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck.run(transcripts, waves=4)
    rows = ck.lineage(spark).collect()
    assert len(rows) == 4
    assert {r["wave_id"] for r in rows} == {0, 1, 2, 3}
    assert all(r["wave_wall_s"] > 0 for r in rows)


def _file_stamps(root):
    stamps = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            stamps[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return stamps


def test_corrupt_lineage_fails_loudly(spark, transcripts, tmp_path_factory):
    """An unreadable lineage must fail the run, not read as "nothing
    committed" and silently reprocess (and rewrite) every bucket."""
    base = str(tmp_path_factory.mktemp("ckpt_corrupt"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck.run(transcripts, waves=2, max_waves=1)
    with open(os.path.join(ck.lineage_path, "part-00000-garbage.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    before = _file_stamps(ck.root)

    with pytest.raises(Exception, match="garbage.parquet"):
        ck.run(transcripts, waves=2)
    assert _file_stamps(ck.root) == before


def test_high_mode_checkpoint_matches_pipeline(spark, tmp_path_factory):
    """High mode keeps every turn (it fails fast instead of dropping), and
    the checkpointed waves must write exactly extract_pipeline's docs."""
    import pandas as pd

    from autoscan_spark.plans.pipeline import extract_pipeline

    rows = [
        ("c1", 1, "user", "| a | b |\n|---|---|\n| 1 | 2 |", "", None),
        ("c1", 2, "user", "| a | b |\n|---|---|\n| 3 | 4 |", "", None),
        ("c1", 3, "assistant", "done", "", None),
        ("c2", 1, "user", "<p>hello <b>there</b></p>", "", None),
        ("c2", 2, "assistant", "```python\nprint(1)\n```", "", None),
        ("c3", 1, "user", "plain question", "", None),
        ("c3", 2, "tool", '{"result": 42}', "calc", None),
        ("c4", 1, "user", "another one", "", None),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    )
    base = str(tmp_path_factory.mktemp("ckpt_high"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4, mode="high")
    assert ck.run(df, waves=2) == 4

    _, docs = extract_pipeline(df, mode="high")
    dcols = ["conv_id", "markdown", "n_turns", "in_chars", "out_chars"]
    assert _read_sorted(spark, ck.docs_path, dcols) == sorted(
        tuple(r) for r in docs.select(*dcols).collect()
    )
    assert spark.read.parquet(ck.extracted_path).count() == len(rows)


def test_wave_docs_read_cached_extraction(spark, transcripts, tmp_path_factory, monkeypatch):
    """Each wave caches its extraction, so the docs sink reads
    InMemoryTableScan instead of re-running the kernel stage, and takes its
    bucket from conv_id instead of joining it back."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = {}
    write_parquet = DataFrameWriter.parquet

    def recording_parquet(self, path, *args, **kwargs):
        plans[os.path.basename(path)] = (
            self._df._jdf.queryExecution().executedPlan().toString()
        )
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    base = str(tmp_path_factory.mktemp("ckpt_plan"))
    CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4).run(transcripts)

    plan = plans["doc_markdown"]
    # the extraction kernel (MapInArrow) must appear only INSIDE the
    # InMemoryRelation's cached-plan printout, never above the cache
    # boundary — i.e. the fold reads the cache, not a re-run kernel
    above_cache = plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in above_cache
    assert "MapInArrow" not in above_cache
    assert "Join" not in plan


def test_bucket_is_conv_stable(spark, transcripts):
    """Every conversation maps to exactly one bucket."""
    b = with_bucket(transcripts, 16)
    per_conv = b.groupBy("conv_id").agg(F.countDistinct("bucket").alias("n"))
    assert per_conv.filter("n != 1").count() == 0


# ---------------- skew ----------------


def test_two_phase_fold_on_skewed_conversation(spark):
    skewed = synthesize_transcripts(spark, 10, seed=3, skew_conv_turns=3000)
    extracted = drop_failed(extract_turns(skewed, mode="low")).cache()
    flat = {r["conv_id"]: r["markdown"] for r in fold_documents(extracted).collect()}
    two = {
        r["conv_id"]: r["markdown"]
        for r in fold_documents(extracted, two_phase=True, chunk_size=256).collect()
    }
    extracted.unpersist()
    assert flat == two
    # the monster conversation really is there
    assert any(len(v) > 100_000 for v in two.values())


def test_resolve_fold_strategy_auto(spark):
    """'auto' picks flat for uniform corpora, two-phase when a sampled
    estimate finds a hot conversation; bools pass through untouched."""
    from pyspark.sql import functions as F

    from autoscan_spark.operators.fold import resolve_fold_strategy

    flat = spark.range(0, 20_000).select(
        F.concat(F.lit("c"), (F.col("id") % 2000).cast("string")).alias("conv_id")
    )
    assert resolve_fold_strategy(flat, "auto", sample_fraction=0.05,
                                 threshold_turns=1000) is False
    skew = spark.range(0, 50_000).select(F.lit("hot").alias("conv_id")).union(flat)
    assert resolve_fold_strategy(skew, "auto", sample_fraction=0.05,
                                 threshold_turns=1000) is True
    # non-auto values resolve without any action
    assert resolve_fold_strategy(flat, True) is True
    assert resolve_fold_strategy(flat, False) is False
    # empty input → flat (no evidence of skew)
    assert resolve_fold_strategy(flat.limit(0), "auto") is False


def test_pipeline_auto_fold_output_invariant(spark):
    """two_phase_fold='auto' must not change results — only the physical
    fold strategy."""
    from autoscan_spark.operators.fold import resolve_fold_strategy
    from autoscan_spark.plans.pipeline import extract_pipeline

    tr = synthesize_transcripts(spark, 10, seed=3, skew_conv_turns=3000)
    # the corpus must really send 'auto' down the two-phase path
    assert resolve_fold_strategy(tr, "auto", chunk_size=256) is True
    _, auto_docs = extract_pipeline(tr, two_phase_fold="auto", fold_chunk_size=256)
    _, flat_docs = extract_pipeline(tr, two_phase_fold=False)
    a = {r["conv_id"]: r["markdown"] for r in auto_docs.collect()}
    f = {r["conv_id"]: r["markdown"] for r in flat_docs.collect()}
    assert a == f


def test_resume_refuses_old_lineage_schema(spark, tmp_path_factory):
    """A checkpoint written before the lineage-schema change (v1, no
    lineage_version in meta) must be refused, not silently appended to
    with a second parquet schema."""
    import json

    import pytest

    base = str(tmp_path_factory.mktemp("ck_ver"))
    ck = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    ck._check_meta()  # writes current meta
    with open(ck._meta_path) as f:
        meta = json.load(f)
    assert meta["lineage_version"] >= 2
    del meta["lineage_version"]  # simulate a pre-versioning checkpoint
    with open(ck._meta_path, "w") as f:
        json.dump(meta, f)
    fresh = CheckpointedExtraction(root=os.path.join(base, "c"), n_buckets=4)
    with pytest.raises(ValueError, match="lineage"):
        fresh._check_meta()
