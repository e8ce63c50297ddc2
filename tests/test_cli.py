"""spark-submit CLI: packaging + local end-to-end ingest."""

import json
import os
import zipfile

from sap_spark.cli import main, package_pyfiles
from sap_spark.sources.datagen import gen_change_events, write_change_log


def test_package_pyfiles(tmp_path):
    out = package_pyfiles(str(tmp_path / "sap_spark.zip"))
    with zipfile.ZipFile(out) as zf:
        names = zf.namelist()
    assert "sap_spark/cli.py" in names
    assert "sap_spark/streaming/pipeline.py" in names
    assert not any("__pycache__" in n for n in names)


def test_cli_ingest_end_to_end(spark, tmp_path, capsys):
    log_dir = str(tmp_path / "log")
    events = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=500)
    write_change_log(events, log_dir)

    main([
        "ingest",
        "--log", log_dir,
        "--table", str(tmp_path / "repos"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--max-files-per-trigger", "2",
    ])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["epochs_applied"] >= 2
    assert summary["events"] >= 2000
    assert summary["table_version"] >= 1

    # resumability: a second run over the same checkpoint is a no-op
    main([
        "ingest",
        "--log", log_dir,
        "--table", str(tmp_path / "repos"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["table_version"] == summary["table_version"]

    # --merge-mode against an EXISTING table with a different stored mode
    # must fail loudly (the stored mode wins; silent ignore is a trap)
    import pytest

    with pytest.raises(SystemExit, match="merge.mode|merge_mode"):
        main([
            "ingest",
            "--log", log_dir,
            "--table", str(tmp_path / "repos"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--merge-mode", "mor",
        ])


def test_cli_bootstrap_then_ingest(spark, tmp_path, capsys):
    """Poll-source on-ramp: two snapshots → bootstrap diff log → ingest
    → table equals the new snapshot."""
    old = spark.createDataFrame(
        [(f"r{i % 5}", f"p{i}", f"c{i}", "py", f"body{i}") for i in range(60)],
        "repo string, path string, commit string, lang string, content string",
    )
    new = spark.createDataFrame(
        [
            (f"r{i % 5}", f"p{i}", f"c{i}", "py",
             f"body{i}-v2" if i % 4 == 0 else f"body{i}")
            for i in range(10, 70)
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    old.write.parquet(str(tmp_path / "snap_old"))
    new.write.parquet(str(tmp_path / "snap_new"))

    main([
        "bootstrap",
        "--old", str(tmp_path / "snap_old"),
        "--new", str(tmp_path / "snap_new"),
        "--out", str(tmp_path / "bootlog"),
        "--keys", "repo,path",
        "--token", "B0",
    ])
    boot = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # overlap p10..p59; i%4==0 → 12,16,...,56 = 12 updates
    assert boot["by_op"] == {"I": 10, "D": 10, "U": 12}

    # seed a table with the old image, then ingest the bootstrap log
    from sap_spark.plans.lake import LakeTable

    table = LakeTable.create(
        spark, str(tmp_path / "boot_table"),
        old.schema, key_columns=["repo", "path"], num_buckets=8,
    )
    table.overwrite(old, batch_id="seed")
    main([
        "ingest",
        "--log", str(tmp_path / "bootlog"),
        "--table", str(tmp_path / "boot_table"),
        "--checkpoint", str(tmp_path / "boot_ckpt"),
    ])
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got = {
        (r["repo"], r["path"]): r["content"]
        for r in LakeTable(spark, str(tmp_path / "boot_table")).read().collect()
    }
    want = {(r["repo"], r["path"]): r["content"] for r in new.collect()}
    assert got == want


def test_cli_maintain_mor_table(spark, tmp_path, capsys):
    """maintain subcommand: MOR ingest → compact folds deltas to base,
    expire reclaims files, state unchanged."""
    log_dir = str(tmp_path / "log")
    events = gen_change_events(spark, n_events=2000, n_keys=200, events_per_token=500)
    write_change_log(events, log_dir)

    main([
        "ingest",
        "--log", log_dir,
        "--table", str(tmp_path / "repos"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--merge-mode", "mor",
        "--max-files-per-trigger", "2",
    ])
    before = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert before["epochs_applied"] >= 2

    # resume ingest WITHOUT repeating --merge-mode (the normal incremental
    # workflow): the stored mor mode applies, no mismatch error
    main([
        "ingest",
        "--log", log_dir,
        "--table", str(tmp_path / "repos"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    resumed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert resumed["table_version"] == before["table_version"]  # no new data

    from sap_spark.plans.lake import LakeTable
    state_before = (
        LakeTable(spark, str(tmp_path / "repos")).read()
        .orderBy("repo", "path").toPandas()
    )

    main([
        "maintain",
        "--table", str(tmp_path / "repos"),
        "--compact",
        "--expire-keep", "1",
    ])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["compacted"] is True
    assert summary["files_removed"] > 0
    assert summary["rows"] == len(state_before)

    t = LakeTable(spark, str(tmp_path / "repos"))
    kinds = {
        e.get("kind", "base")
        for entries in t.manifest["buckets"].values() for e in entries
    }
    assert kinds == {"base"}
    state_after = t.read().orderBy("repo", "path").toPandas()
    assert state_after.equals(state_before)


def test_cli_status_reports_lineage_and_high_water(spark, tmp_path, capsys):
    """`status` summarizes a table and its pipelines from driver-side
    metadata alone: version/mode/buckets, MOR delta pressure, and the
    per-partition bucket high-water marks folded from lineage."""
    log_dir = str(tmp_path / "log")
    events = gen_change_events(
        spark, n_events=2000, n_keys=200, events_per_token=500
    )
    write_change_log(events, log_dir)
    main([
        "ingest",
        "--log", log_dir,
        "--table", str(tmp_path / "repos"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--pipeline-id", "status-e2e",
        "--max-files-per-trigger", "2",
    ])
    capsys.readouterr()

    main(["status", "--table", str(tmp_path / "repos")])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["table_version"] >= 1
    assert st["merge_mode"] == "cow"
    assert st["n_compaction_commits"] == 0
    assert st["delta_files"]["total"] == 0
    fs = st["file_stats"]
    assert fs["files"] >= 1 and fs["with_bounds"] == fs["files"]
    assert "_event_seq" in fs["columns"]
    p = st["pipelines"]["status-e2e"]
    assert p["epochs_applied"] >= 2
    assert p["events"] >= 2000  # gen injects duplicate deliveries
    assert p["quarantined"] == 0
    assert p["max_token"] is not None
    hw = p["bucket_high_water"]
    assert hw and max(hw.values()) == 1999

    # --pipeline-id filters; an unknown id yields no pipelines
    main(["status", "--table", str(tmp_path / "repos"),
          "--pipeline-id", "nope"])
    st2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st2["pipelines"] == {}

    # --count spins a session and reports live rows
    main(["status", "--table", str(tmp_path / "repos"), "--count"])
    st3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st3["rows"] > 0


def test_fold_lineage_shared_semantics():
    """One fold serves bucket_high_water(), `cli ingest` summaries and
    `cli status`: last-record-per-epoch quarantine, int bucket keys,
    applied-only event/offset accounting."""
    from sap_spark.streaming.pipeline import fold_lineage

    records = [
        {"pipeline_id": "p", "epoch_id": 0, "applied": True, "n_events": 10,
         "max_token": 3, "quarantined": 2,
         "bucket_offsets": {"0": {"max_seq": 5}, "3": {"max_seq": 9}}},
        # crash-retried epoch 0: DLQ dir was overwritten, LAST record wins
        {"pipeline_id": "p", "epoch_id": 0, "applied": False, "quarantined": 1},
        {"pipeline_id": "p", "epoch_id": 1, "applied": True, "n_events": 4,
         "max_token": 7, "quarantined": 0,
         "bucket_offsets": {"3": {"max_seq": 11}, "5": {"max_seq": None}}},
    ]
    f = fold_lineage(records)
    assert f["epochs_applied"] == 2 and f["events"] == 14
    assert f["max_token"] == 7
    assert f["quarantined"] == 1  # 1 (epoch 0 retry) + 0 (epoch 1)
    assert f["bucket_high_water"] == {0: 5, 3: 11}  # ints; None skipped


def test_read_lineage_tolerates_torn_trailing_line_only(tmp_path):
    """`cli status` may race a live writer's append: a partial TRAILING
    line is skipped, but mid-file corruption still raises."""
    import pytest

    from sap_spark.streaming.pipeline import read_lineage_file

    path = tmp_path / "lineage.jsonl"
    good = '{"pipeline_id": "p", "epoch_id": 0, "applied": true}\n'
    path.write_text(good + '{"pipeline_id": "p", "epo')
    recs = read_lineage_file(str(path))
    assert len(recs) == 1 and recs[0]["applied"] is True
    path.write_text('{"bad\n' + good)
    with pytest.raises(json.JSONDecodeError):
        read_lineage_file(str(path))
    assert read_lineage_file(str(tmp_path / "absent.jsonl")) == []


def test_cli_changes_feed(spark, tmp_path, capsys):
    """`changes` dumps the net I/U/D feed between versions; on a pure
    MOR-append range --incremental succeeds, and the parquet output
    matches the in-process feed."""
    log_dir = str(tmp_path / "log")
    events = gen_change_events(
        spark, n_events=1500, n_keys=150, events_per_token=500
    )
    write_change_log(events, log_dir)
    main([
        "ingest",
        "--log", log_dir,
        "--table", str(tmp_path / "t"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--merge-mode", "mor",
        "--max-files-per-trigger", "1",
    ])
    capsys.readouterr()
    from sap_spark.plans.lake import LakeTable

    table = LakeTable(spark, str(tmp_path / "t"))
    assert table.version >= 2  # several epochs committed

    out_dir = str(tmp_path / "feed")
    main(["changes", "--table", str(tmp_path / "t"),
          "--from-version", "1", "--out", out_dir, "--incremental"])
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows"] > 0 and st["to_version"] == table.version
    written = spark.read.parquet(out_dir)
    expect = table.changes_between(1, incremental=False)
    assert sorted(map(tuple, written.collect())) == sorted(
        map(tuple, expect.collect())
    )
    # count-only snapshot mode agrees
    main(["changes", "--table", str(tmp_path / "t"),
          "--from-version", "1", "--snapshot"])
    st2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st2["rows"] == st["rows"]


def test_cli_stops_own_session_when_command_raises(tmp_path, monkeypatch):
    """A subcommand that raises still stops the session the CLI created
    for it, so an in-process call leaves no session behind."""
    import pytest
    from pyspark.sql import SparkSession

    from sap_spark import config

    class FakeSession:
        stopped = False
        sparkContext = type("Ctx", (), {"setLogLevel": lambda self, lvl: None})()

        def stop(self):
            self.stopped = True

    session = FakeSession()
    built = {}

    class FakeBuilder:
        def getOrCreate(self):
            return session

    def fake_tuned_builder(**kwargs):
        built.update(kwargs)
        return FakeBuilder()

    monkeypatch.setattr(config, "tuned_builder", fake_tuned_builder)
    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    with pytest.raises(FileNotFoundError):
        main(["maintain", "--table", str(tmp_path / "missing"),
              "--master", "local[1]", "--shuffle-partitions", "3"])
    assert built == {
        "app_name": "sap_spark-maintain",
        "master": "local[1]",
        "shuffle_partitions": 3,
    }
    assert session.stopped
