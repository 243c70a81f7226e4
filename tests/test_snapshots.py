"""Snapshot catalog (plans/snapshots.py, VERDICT r5 #4): snapshot ids,
time travel, and St3 start-snapshot-id incremental reads behind the
StageManifest, over the JSON snapshot log."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from wikidata_dump_processor_spark import datagen
from wikidata_dump_processor_spark.plans.pipeline import (
    MANIFEST,
    StageManifest,
    run_pipeline,
)
from wikidata_dump_processor_spark.plans.snapshots import (
    open_catalog,
    read_at,
    read_delta,
)

BACKENDS = ["json"]


def _write(spark, path, lo, hi, mode="overwrite"):
    spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(2).write.mode(mode).parquet(path)


def _files(path):
    return [
        os.path.relpath(f, path)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ]


@pytest.mark.parametrize("backend", BACKENDS)
def test_commit_time_travel_and_delta(spark, tmp_path, backend):
    root = str(tmp_path / "out")
    stage_dir = os.path.join(root, "stage_a")
    cat = open_catalog(root, backend)

    _write(spark, stage_dir, 0, 10)
    s1 = cat.commit("stage_a", stage_dir, _files(stage_dir), "fp1")
    _write(spark, stage_dir, 10, 25, mode="append")
    s2 = cat.commit("stage_a", stage_dir, _files(stage_dir), "fp2")
    assert s1 != s2
    assert cat.current_snapshot_id("stage_a") == s2
    assert set(cat.snapshot_ids("stage_a")) >= {s1, s2}

    # time travel: AS OF s1 sees only the first write
    at1 = read_at(spark, cat, "stage_a", s1)
    assert sorted(r.id for r in at1.collect()) == list(range(10))
    at2 = read_at(spark, cat, "stage_a", s2)
    assert at2.count() == 25

    # St3 incremental: delta since s1 = exactly the appended rows
    delta = read_delta(spark, cat, "stage_a", s1)
    assert sorted(r.id for r in delta.collect()) == list(range(10, 25))
    # nothing new since the current snapshot -> empty, schema intact
    none = read_delta(spark, cat, "stage_a", s2)
    assert none.count() == 0
    assert set(none.columns) == {"id", "v"}


@pytest.mark.parametrize("backend", BACKENDS)
def test_catalog_reopen_preserves_snapshots(spark, tmp_path, backend):
    root = str(tmp_path / "out")
    stage_dir = os.path.join(root, "s")
    cat = open_catalog(root, backend)
    _write(spark, stage_dir, 0, 5)
    s1 = cat.commit("s", stage_dir, _files(stage_dir), "fp")
    # a fresh process/session reads the same log
    cat2 = open_catalog(root, backend)
    assert cat2.current_snapshot_id("s") == s1
    assert read_at(spark, cat2, "s", s1).count() == 5


@pytest.mark.parametrize("backend", BACKENDS)
def test_pipeline_resume_with_snapshot_backend(spark, tmp_path, backend):
    """Resume semantics with the snapshot tier on: a re-run under the
    same fingerprint skips every stage and the committed snapshot ids
    stay EXACTLY as the first run left them; manifest metrics carry the
    same row counts as a backend-less run."""
    out = str(tmp_path / "kg")
    pages = datagen.gen_pages(spark, 80).localCheckpoint(eager=True)
    al, cat_df = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    res = run_pipeline(
        spark, pages, al, out, cat_df, fingerprint="f",
        snapshot_backend=backend,
    )
    man = res["manifest"]
    sids = {
        s: e["snapshot_id"]
        for s, e in man.stages.items()
        if e.get("state") == "committed"
    }
    assert sids and all(isinstance(v, int) for v in sids.values())
    assert all(
        e.get("snapshot_backend") == backend
        for e in man.stages.values()
        if e.get("state") == "committed"
    )

    res2 = run_pipeline(
        spark, pages, al, out, cat_df, fingerprint="f",
        snapshot_backend=backend,
    )
    man2 = res2["manifest"]
    for s, sid in sids.items():
        assert man2.stages[s]["snapshot_id"] == sid, s  # resume: no re-commit

    # metrics parity with the plain manifest (backend must not perturb)
    out_plain = str(tmp_path / "kg_plain")
    res3 = run_pipeline(spark, pages, al, out_plain, cat_df, fingerprint="f")
    for s in sids:
        assert (
            res3["manifest"].stages[s]["metrics"]["rows"]
            == man.stages[s]["metrics"]["rows"]
        ), s

    # time travel through the catalog matches the live stage output
    cat = StageManifest(out, snapshot_backend=backend).snapshots
    # each snapshot records exactly the file list of its stage's metrics
    for s, sid in sids.items():
        e = man.stages[s]
        files = {os.path.join(e["path"], f) for f in e["metrics"]["files"]}
        assert files and cat.files_at(s, sid) == files, s
    tt = read_at(spark, cat, "triples", sids["triples"])
    assert tt.count() == res["triples"].count()


@pytest.mark.parametrize("backend", ["pyiceberg", "iceberg", "auto"])
def test_unknown_snapshot_backend_raises_before_any_stage(spark, tmp_path, backend):
    """Only the JSON log is a backend: any other name fails in
    ``open_catalog`` — before ``run_pipeline`` plans or starts a stage."""
    with pytest.raises(ValueError, match="unknown snapshot backend"):
        open_catalog(str(tmp_path / "cat"), backend)
    out = str(tmp_path / "kg")
    with pytest.raises(ValueError, match="unknown snapshot backend"):
        run_pipeline(
            spark, datagen.gen_pages(spark, 5), datagen.gen_aliases(spark),
            out, fingerprint="f", snapshot_backend=backend,
        )
    assert not os.path.exists(os.path.join(out, MANIFEST))
    assert not os.path.exists(os.path.join(out, "extracted"))


def test_cli_rejects_iceberg_snapshot_backend(capsys):
    from wikidata_dump_processor_spark.__main__ import main

    with pytest.raises(SystemExit) as e:
        main(["-", "/nonexistent", "--demo-pages", "5",
              "--snapshot-backend", "iceberg"])
    assert e.value.code == 2
    assert "invalid choice: 'iceberg'" in capsys.readouterr().err
