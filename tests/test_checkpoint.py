"""Backfill idempotence + kill-resume (SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from featherstore_spark.plans.checkpoint import (
    MANIFEST,
    CheckpointManifest,
    run_with_checkpoint,
)

LINEAGE = {"input": "unit-corpus-seed42", "params": {"gap": "30 minutes"}}


def _read_manifest(path):
    with open(os.path.join(path, MANIFEST)) as fh:
        return json.load(fh)


def test_run_twice_is_idempotent(spark, transcripts, tmp_path):
    out = str(tmp_path / "feat")
    m1 = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    first = spark.read.parquet(out).orderBy("conv_id", "turn_idx").toPandas()
    manifest1 = _read_manifest(out)

    m2 = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    second = spark.read.parquet(out).orderBy("conv_id", "turn_idx").toPandas()
    manifest2 = _read_manifest(out)

    assert m1["total_rows"] == m2["total_rows"] == transcripts.count()
    assert (first["text"] == second["text"]).all()
    # second run recomputed nothing: completion timestamps unchanged
    t1 = {b: v["completed_at"] for b, v in manifest1["buckets"].items()}
    t2 = {b: v["completed_at"] for b, v in manifest2["buckets"].items()}
    assert t1 == t2


def test_resume_after_partial_run(spark, transcripts, tmp_path):
    out = str(tmp_path / "feat")
    full = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    expected = spark.read.parquet(out).orderBy("conv_id", "turn_idx").toPandas()
    complete_manifest = _read_manifest(out)

    # simulate a kill: drop half the buckets from the manifest (as if the
    # run died before marking them done)
    crashed = dict(complete_manifest)
    kept = dict(list(complete_manifest["buckets"].items())[:4])
    crashed["buckets"] = kept
    with open(os.path.join(out, MANIFEST), "w") as fh:
        json.dump(crashed, fh)

    m = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    resumed = spark.read.parquet(out).orderBy("conv_id", "turn_idx").toPandas()
    final_manifest = _read_manifest(out)

    assert m["total_rows"] == full["total_rows"]
    assert (resumed["text"] == expected["text"]).all()
    assert (resumed["session_id"] == expected["session_id"]).all()
    # the 4 surviving buckets were NOT recomputed (same completion stamps)
    for b, v in kept.items():
        assert final_manifest["buckets"][b]["completed_at"] == v["completed_at"]
    # content hashes of recomputed buckets match the original run (determinism)
    for b, v in complete_manifest["buckets"].items():
        assert final_manifest["buckets"][b]["content_hash"] == v["content_hash"]


def test_lineage_change_discards_manifest(spark, transcripts, tmp_path):
    out = str(tmp_path / "feat")
    run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    m = CheckpointManifest(out, {"input": "DIFFERENT", "params": {}})
    assert m.done_buckets() == set()
    assert m.lineage_changed


def test_resume_on_vanilla_session_preserves_done_buckets(spark, transcripts, tmp_path):
    """Resume must be partition-scoped even when the SESSION overwrite
    mode is static (vanilla spark-submit conf / notebook session): the
    writer sets partitionOverwriteMode=dynamic itself.  Regression test
    for the round-1 data-loss footgun (VERDICT r1, ADVICE r1)."""
    out = str(tmp_path / "feat")
    run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    complete = _read_manifest(out)

    # crash simulation: half the buckets lose their 'done' mark
    crashed = dict(complete)
    crashed["buckets"] = dict(list(complete["buckets"].items())[:4])
    with open(os.path.join(out, MANIFEST), "w") as fh:
        json.dump(crashed, fh)

    prior_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior_mode)

    final = _read_manifest(out)
    # the 4 done buckets were neither deleted nor recomputed
    for b, v in crashed["buckets"].items():
        assert final["buckets"][b]["completed_at"] == v["completed_at"]
    back = spark.read.parquet(out)
    assert back.count() == transcripts.count()


def test_lineage_change_clears_stale_data(spark, transcripts, tmp_path):
    """A re-run with different lineage over an input that populates FEWER
    buckets must not serve rows left over from the old lineage (dynamic
    overwrite alone would keep unpopulated buckets; ADVICE r1)."""
    out = str(tmp_path / "feat")
    run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)

    one_conv = transcripts.where(
        F.col("conv_id") == transcripts.select("conv_id").first()[0]
    )
    new_lineage = {"input": "filtered-corpus", "params": LINEAGE["params"]}
    m = run_with_checkpoint(one_conv, out, new_lineage, n_buckets=8)

    back = spark.read.parquet(out)
    assert back.count() == one_conv.count() == m["total_rows"]
    assert back.select("conv_id").distinct().count() == 1


def test_bucket_assignment_covers_all_rows(spark, transcripts, tmp_path):
    out = str(tmp_path / "feat")
    run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    back = spark.read.parquet(out)
    assert back.count() == transcripts.count()
    assert back.select("p_bucket").distinct().count() <= 8
    assert back.where(F.col("p_bucket").isNull()).count() == 0


def test_spine_materialization_kill_resume(spark, transcripts, tmp_path):
    """The north-rule job — point-in-time vectors at spine rows — resumes
    per bucket like the feature log, with BOTH sides bucket-filtered (an
    unfiltered spine would write all-null f_* rows into done buckets)."""
    out = str(tmp_path / "pit")
    spine = (
        transcripts.where(F.col("role") == "assistant")
        .select("conv_id", "ts")
        .distinct()
    )
    lineage = {"input": "unit-corpus-seed42", "spine": "assistant-turns", "params": {}}

    full = run_with_checkpoint(transcripts, out, lineage, n_buckets=8, spine=spine)
    expected = spark.read.parquet(out).orderBy("conv_id", "ts").toPandas()
    complete = _read_manifest(out)
    assert full["total_rows"] == spine.count() == len(expected)
    assert "f_cum_turns" in expected.columns  # point-in-time vectors, not the log
    assert expected["f_ts"].notna().all()  # every spine point is itself a turn

    # crash: half the buckets lose their done mark
    crashed = dict(complete)
    crashed["buckets"] = dict(list(complete["buckets"].items())[:4])
    with open(os.path.join(out, MANIFEST), "w") as fh:
        json.dump(crashed, fh)

    m = run_with_checkpoint(transcripts, out, lineage, n_buckets=8, spine=spine)
    resumed = spark.read.parquet(out).orderBy("conv_id", "ts").toPandas()
    final = _read_manifest(out)
    assert m["total_rows"] == full["total_rows"]
    assert (resumed["f_cum_turns"].to_numpy() == expected["f_cum_turns"].to_numpy()).all()
    assert (resumed["f_session_id"].to_numpy() == expected["f_session_id"].to_numpy()).all()
    # surviving buckets untouched; recomputed buckets deterministic
    for bkt, v in crashed["buckets"].items():
        assert final["buckets"][bkt]["completed_at"] == v["completed_at"]
    for bkt, v in complete["buckets"].items():
        assert final["buckets"][bkt]["content_hash"] == v["content_hash"]


def test_spine_checkpoint_writes_one_file_per_bucket(spark, transcripts, tmp_path):
    """Every committed bucket is exactly ONE part file, whatever
    partitioning the as-of strategy leaves behind, and both strategies
    commit identical per-bucket row counts and content hashes."""
    from functools import partial

    from featherstore_spark.operators.asof import STRATEGIES
    from featherstore_spark.plans.materialize import materialize

    spine = transcripts.where(F.col("role") == "assistant").select("conv_id", "ts").distinct()
    committed = {}
    # coalescing would fold this tiny corpus into one shuffle partition,
    # where any layout writes one file per bucket
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for strategy in STRATEGIES:
            out = tmp_path / strategy
            run_with_checkpoint(
                transcripts, str(out), LINEAGE, n_buckets=8, spine=spine,
                pipeline=partial(materialize, asof_strategy=strategy, asof_bucket="2 hours"),
            )
            buckets = _read_manifest(str(out))["buckets"]
            for b in buckets:
                parts = [f for f in os.listdir(out / f"p_bucket={b}") if f.startswith("part-")]
                assert len(parts) == 1, (strategy, b, parts)
            committed[strategy] = {b: (v["row_count"], v["content_hash"]) for b, v in buckets.items()}
    finally:
        spark.conf.set(key, prior)
    assert len(committed["window"]) > 1
    assert committed["window"] == committed["bucketed"]


def test_clear_stale_output_refuses_foreign_dir(tmp_path):
    """ADVICE r2 (medium): a typo'd/shared --output containing files this
    engine did not write must error, never be wholesale rmtree'd."""
    from featherstore_spark.plans.checkpoint import clear_stale_output

    foreign = tmp_path / "shared"
    foreign.mkdir()
    (foreign / "precious_notes.txt").write_text("do not delete")
    with pytest.raises(ValueError, match="refusing to clear"):
        clear_stale_output(str(foreign))
    assert (foreign / "precious_notes.txt").exists()

    # a tool-owned layout still clears
    owned = tmp_path / "owned"
    (owned / "p_bucket=3").mkdir(parents=True)
    (owned / "_manifest.json").write_text("{}")
    (owned / "_SUCCESS").write_text("")
    clear_stale_output(str(owned))
    assert not owned.exists()


def test_commit_never_rescans_output(spark, transcripts, tmp_path, monkeypatch):
    """VERDICT r2 order #3: the non-verify commit path must scan the
    written output ZERO times — stats ride the write job via observe()."""
    import pyspark.sql.readwriter as rw

    out = str(tmp_path / "feat")
    reads: list[str] = []
    orig_parquet = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.extend(paths)
        return orig_parquet(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    m = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    assert m["total_rows"] == transcripts.count()
    assert all(out not in p for p in reads), f"output was re-read: {reads}"
    # and the manifest still carries real per-bucket content hashes
    man = _read_manifest(out)
    assert all("content_hash" in v for v in man["buckets"].values())


def test_verify_mode_matches_observed_stats(spark, transcripts, tmp_path):
    """verify=True reads the written partitions back and must agree with
    the in-job observed stats (audit mode raises on mismatch)."""
    out = str(tmp_path / "feat")
    m = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8, verify=True)
    assert m["total_rows"] == transcripts.count()


def test_observed_hashes_equal_readback_content_stats(spark, transcripts, tmp_path):
    """The observe()-computed hash formula is IDENTICAL to content_stats
    on the read-back data (same column order, same casts) — the
    determinism anchor for resume across engine versions."""
    from featherstore_spark.plans.checkpoint import content_stats

    out = str(tmp_path / "feat")
    run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    man = _read_manifest(out)
    back = content_stats(spark.read.parquet(out))
    assert {int(b): v["content_hash"] for b, v in man["buckets"].items()} == {
        b: v["content_hash"] for b, v in back.items()
    }
    assert {int(b): v["row_count"] for b, v in man["buckets"].items()} == {
        b: v["row_count"] for b, v in back.items()
    }


def test_observed_row_hash_is_one_typed_xxhash64(spark, transcripts):
    """The commit hashes each row ONCE (one xxhash64 projected ahead of
    the observe nodes) over typed values: no string casts when the
    schema has no map or variant column."""
    from featherstore_spark.plans.checkpoint import _observed_bucket_stats

    # a local relation: the cached fixture's lineage carries datagen's
    # own xxhash64 calls
    df = spark.createDataFrame(transcripts.limit(10).collect(), transcripts.schema)
    df = df.withColumn("p_bucket", F.pmod("turn_idx", F.lit(4)))
    observed, obs_list = _observed_bucket_stats(df, list(range(200)))
    assert len(obs_list) > 1  # several observe nodes share the one hash
    plan = observed._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("xxhash64(") == 1, plan
    assert "as string)" not in plan, plan
    assert observed.columns == df.columns


def test_map_and_variant_columns_commit_with_verify(spark, transcripts, tmp_path):
    """map and variant values (top level or nested) are hashed through
    their string rendering, since xxhash64 rejects them; the commit
    still verifies observed == read-back."""
    from featherstore_spark.plans.checkpoint import content_stats
    from featherstore_spark.plans.materialize import build_feature_log

    def pipeline(t):
        m = F.create_map(F.col("role"), F.col("turn_idx"))
        return build_feature_log(t).select(
            "conv_id",
            "turn_idx",
            m.alias("m"),
            F.struct(F.array(m).alias("am")).alias("nested"),
            F.parse_json(F.to_json(F.struct("role", "turn_idx"))).alias("v"),
        )

    out = str(tmp_path / "feat")
    m = run_with_checkpoint(
        transcripts, out, LINEAGE, n_buckets=8, pipeline=pipeline, verify=True
    )
    assert m["total_rows"] == transcripts.count()
    back = spark.read.parquet(out)
    assert back.schema["m"].dataType.simpleString() == "map<string,int>"
    assert back.schema["v"].dataType.simpleString() == "variant"
    man = _read_manifest(out)
    assert {int(b): v["content_hash"] for b, v in man["buckets"].items()} == {
        b: v["content_hash"] for b, v in content_stats(back).items()
    }


def test_untagged_manifest_resumes_without_recompute(spark, transcripts, tmp_path):
    """A manifest written before bucket entries carried a ``row_hash``
    tag resumes as-is: its done buckets are not recomputed (same
    completion stamps, still untagged) and only the buckets the crash
    lost are recomputed, under the current row hash."""
    from featherstore_spark.plans.checkpoint import ROW_HASH

    out = str(tmp_path / "feat")
    run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    old = _read_manifest(out)
    for v in old["buckets"].values():
        del v["row_hash"]
    kept = dict(list(old["buckets"].items())[:4])
    old["buckets"] = kept
    with open(os.path.join(out, MANIFEST), "w") as fh:
        json.dump(old, fh)

    m = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=8)
    final = _read_manifest(out)["buckets"]
    assert m["total_rows"] == transcripts.count()
    assert len(final) > len(kept)
    for b, v in final.items():
        if b in kept:
            assert v == kept[b]  # same completed_at, no tag
        else:
            assert v["row_hash"] == ROW_HASH


def test_all_done_resume_launches_no_job(spark, transcripts, tmp_path, monkeypatch):
    """A fully-done manifest short-circuits driver-side: no write job at
    all (replaces the round-2 isEmpty() pre-job).  n_buckets=4 so the
    seed-fixed corpus populates every bucket."""
    import featherstore_spark.sources.io as io_mod

    out = str(tmp_path / "feat")
    run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=4)
    assert len(_read_manifest(out)["buckets"]) == 4  # all populated

    def boom(*a, **kw):  # any write attempt on the resume is a failure
        raise AssertionError("fully-done resume attempted a write job")

    monkeypatch.setattr(io_mod, "write_partitioned", boom)
    m = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=4)
    assert m["total_rows"] == transcripts.count()


def test_iceberg_write_branch_selection(spark, transcripts, monkeypatch):
    """Always-on coverage of the Iceberg writeTo branch (VERDICT r2 order
    #2): no jar in this sandbox, so the DataFrameWriterV2 surface is
    faked and the branch logic (create-on-first-write, then
    overwritePartitions) is asserted directly."""
    from featherstore_spark.sources import io as io_mod

    calls = []

    class FakeWriterV2:
        def __init__(self, table):
            self.table, self.parts = table, ()

        def partitionedBy(self, *cols):
            self.parts = cols
            return self

        def create(self):
            calls.append(("create", self.table, len(self.parts)))

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.table))

    df = transcripts.withColumn("p_bucket", F.lit(0))
    # patch the CONCRETE classes (pyspark 4 routes the facade to
    # sql.classic implementations)
    monkeypatch.setattr(type(df), "writeTo", lambda self, t: FakeWriterV2(t))
    exists = {"v": False}
    monkeypatch.setattr(
        type(spark.catalog), "tableExists", lambda self, t: exists["v"]
    )

    io_mod.write_partitioned(df, "local.db.feat", fmt="iceberg")
    exists["v"] = True
    io_mod.write_partitioned(df, "local.db.feat", fmt="iceberg")
    assert calls == [
        ("create", "local.db.feat", 1),  # partitionedBy(p_bucket) + create
        ("overwritePartitions", "local.db.feat"),  # partition-scoped resume
    ]


def test_iceberg_checkpoint_requires_manifest_dir(spark, transcripts, tmp_path):
    with pytest.raises(ValueError, match="manifest_dir"):
        run_with_checkpoint(
            transcripts, "local.db.feat", LINEAGE, n_buckets=4, output_format="iceberg"
        )


@pytest.mark.parametrize(
    "fmt", ["parquet", pytest.param("iceberg", marks=pytest.mark.iceberg)]
)
def test_kill_resume_parametrized_formats(spark, transcripts, tmp_path, fmt):
    """Kill-resume over both table formats.  The iceberg case activates
    only when the runtime ships the Iceberg extensions (auto-skip here);
    the parquet case keeps the parametrization honest everywhere."""
    from featherstore_spark.sources.io import table_format

    if fmt == "iceberg" and table_format(spark) != "iceberg":
        pytest.skip("no Iceberg jar in this environment")
    if fmt == "iceberg":
        out, mdir = "local.db.kill_resume", str(tmp_path / "manifest")
    else:
        out, mdir = str(tmp_path / "feat"), None

    kw = {"n_buckets": 8, "output_format": fmt, "manifest_dir": mdir}
    full = run_with_checkpoint(transcripts, out, LINEAGE, **kw)
    mpath = mdir or out
    complete = _read_manifest(mpath)

    crashed = dict(complete)
    crashed["buckets"] = dict(list(complete["buckets"].items())[:4])
    with open(os.path.join(mpath, MANIFEST), "w") as fh:
        json.dump(crashed, fh)

    m = run_with_checkpoint(transcripts, out, LINEAGE, **kw)
    final = _read_manifest(mpath)
    assert m["total_rows"] == full["total_rows"]
    for b, v in crashed["buckets"].items():
        assert final["buckets"][b]["completed_at"] == v["completed_at"]
    for b, v in complete["buckets"].items():
        assert final["buckets"][b]["content_hash"] == v["content_hash"]


def test_wide_bucket_count_checkpoint_chunks_observes(spark, transcripts, tmp_path):
    """VERDICT r3 #4: n_buckets=512 must run green WITHOUT one
    pathologically wide observe aggregate — the per-bucket conditional
    stats are chunked <=128 expressions per CollectMetrics node."""
    from featherstore_spark.plans.checkpoint import (
        _OBSERVE_CHUNK_EXPRS,
        _observed_bucket_stats,
    )

    out = str(tmp_path / "feat")
    m = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=512)
    assert m["total_rows"] == transcripts.count()
    man = _read_manifest(out)
    # every done bucket carries real stats, and re-running resumes cleanly
    assert all(v["row_count"] > 0 for v in man["buckets"].values())
    m2 = run_with_checkpoint(transcripts, out, LINEAGE, n_buckets=512)
    assert m2["total_rows"] == m["total_rows"]

    # structural check: 512 pending buckets -> ceil(1024/128)=8 observe nodes
    df = transcripts.limit(10).withColumn("p_bucket", F.lit(0))
    observed, obs_list = _observed_bucket_stats(df, list(range(512)))
    assert len(obs_list) == (512 * 2 + _OBSERVE_CHUNK_EXPRS - 1) // _OBSERVE_CHUNK_EXPRS
    plan = observed._jdf.queryExecution().logical().toString()
    assert plan.count("CollectMetrics") == len(obs_list)


def test_ownership_guard_requires_positive_marker(tmp_path):
    """ADVICE r3 (medium): a directory of dotfiles, or another tool's
    generic part-*/_SUCCESS Spark output, must NOT pass the ownership
    check — deletion requires a p_bucket=*/_manifest.json marker."""
    from featherstore_spark.plans.checkpoint import clear_stale_output

    dotfiles = tmp_path / "home"
    dotfiles.mkdir()
    (dotfiles / ".bashrc").write_text("alias ll='ls -l'")
    (dotfiles / ".ssh").mkdir()
    with pytest.raises(ValueError, match="refusing to clear"):
        clear_stale_output(str(dotfiles))
    assert (dotfiles / ".bashrc").exists()

    generic = tmp_path / "other_spark_output"
    generic.mkdir()
    (generic / "part-00000-abc.snappy.parquet").write_text("x")
    (generic / "_SUCCESS").write_text("")
    with pytest.raises(ValueError, match="refusing to clear"):
        clear_stale_output(str(generic))
    assert (generic / "_SUCCESS").exists()


def test_clear_manifest_dir_refuses_strays(tmp_path):
    """ADVICE r3 (low): the Iceberg-mode manifest dir gets the same
    ownership discipline — only the manifest (+tmp) may live there."""
    from featherstore_spark.plans.checkpoint import MANIFEST, clear_manifest_dir

    shared = tmp_path / "shared"
    shared.mkdir()
    (shared / MANIFEST).write_text("{}")
    (shared / "unrelated.csv").write_text("a,b")
    with pytest.raises(ValueError, match="refusing to clear manifest"):
        clear_manifest_dir(str(shared))
    assert (shared / "unrelated.csv").exists()

    owned = tmp_path / "owned_manifest"
    owned.mkdir()
    (owned / MANIFEST).write_text("{}")
    (owned / (MANIFEST + ".tmp")).write_text("{}")
    clear_manifest_dir(str(owned))
    assert not owned.exists()


def test_cli_auto_asof_width_cached_in_manifest(spark, transcripts, tmp_path, monkeypatch):
    """VERDICT r3 #6: --asof-bucket auto costs ONE stats aggregation per
    materialization; a resumed run re-reads the width from the manifest
    instead of re-running the job."""
    import featherstore_spark.operators.asof as asof_mod
    from featherstore_spark.cli import main

    tdir, sdir, out = str(tmp_path / "t"), str(tmp_path / "s"), str(tmp_path / "o")
    transcripts.write.parquet(tdir)
    (
        transcripts.where(F.col("role") == "assistant")
        .select("conv_id", "ts", "turn_idx")
        .write.parquet(sdir)
    )
    calls = []
    orig = asof_mod.auto_bucket_width_us

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(asof_mod, "auto_bucket_width_us", counting)
    common = [
        "materialize", "--input", tdir, "--output", out, "--spine", sdir,
        "--asof-strategy", "bucketed", "--asof-bucket", "auto", "--n-buckets", "4",
    ]
    assert main(common) == 0
    assert len(calls) == 1
    man = _read_manifest(out)
    width = man["stats"]["asof_width_us"]
    assert width in asof_mod.AUTO_BUCKET_GRID_US

    assert main(common + ["--resume"]) == 0
    assert len(calls) == 1  # cached: no second stats job

    # lineage change on resume: width recomputed ONCE, and cached into
    # the post-run manifest so the NEXT resume of the new lineage skips
    # the stats job again (review r4)
    changed = list(common) + ["--trailing", "5 minutes"]  # new lineage params
    assert main(changed + ["--resume"]) == 0
    assert len(calls) == 2
    assert _read_manifest(out)["stats"]["asof_width_us"] == width
    assert main(changed + ["--resume"]) == 0
    assert len(calls) == 2  # cached across the lineage change


def test_asof_supplied_width_runs_no_stats_job(spark, transcripts, monkeypatch):
    """Passing a concrete width to asof_join must never trigger the
    auto-width aggregation (the caller-precomputed fast path)."""
    import featherstore_spark.operators.asof as asof_mod

    def boom(*a, **kw):  # any call = the contract is broken
        raise AssertionError("auto_bucket_width_us ran despite supplied width")

    monkeypatch.setattr(asof_mod, "auto_bucket_width_us", boom)
    feats = transcripts.select("conv_id", "ts", "turn_idx", F.length("text").alias("v"))
    spine = transcripts.where(F.col("role") == "assistant").select("conv_id", "ts")
    out = asof_mod.asof_join(
        spine, feats, on="conv_id", ts="ts", tiebreaks=("turn_idx",),
        strategy="bucketed", bucket=3_600_000_000,
    )
    assert out.count() == spine.count()
