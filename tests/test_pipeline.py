"""End-to-end pipeline over the synthetic world + report golden +
checkpoint/resume semantics."""

import json
import shutil

import pytest
from pyspark.sql import functions as F

from osm_addr_bot_spark.datagen import T0, WINDOW_S
from osm_addr_bot_spark.operators.report import compose_message
from osm_addr_bot_spark.pipeline import PERSIST_LEVEL, load_tables, run_pipeline
from osm_addr_bot_spark.state.checkpoint import Checkpoint


def test_pipeline_end_to_end(spark, synth_dir):
    out = run_pipeline(spark, synth_dir, start_ts=T0, end_ts=T0 + WINDOW_S)
    issues = out["issues"].cache()
    n = issues.count()
    assert n > 0

    # no open changesets in final issues
    cs = load_tables(spark, synth_dir)["changesets"]
    open_ids = {r["changeset_id"] for r in cs.filter("open").collect()}
    final_cs = {r["changeset_id"] for r in issues.select("changeset_id").distinct().collect()}
    assert not (final_cs & open_ids)

    # no blacklisted changesets
    black = {r["changeset_id"] for r in cs.filter(F.lower("created_by").contains("streetcomplete")).collect()}
    assert not (final_cs & black)

    # reports exist for every (category, changeset) pair with issues
    reports = out["reports"].cache()
    rep_keys = {(r["category"], r["changeset_id"]) for r in reports.collect()}
    iss_keys = {
        (r["category"], r["changeset_id"])
        for r in issues.select("category", "changeset_id").distinct().collect()
    }
    assert rep_keys == iss_keys

    # every message ends with the sign-off
    for r in reports.collect():
        assert r["message"].endswith("Pozdrawiam! 🦀")

    # overlap report covers docs
    assert out["overlap"].count() > 0
    issues.unpersist()
    reports.unpersist()


def test_priority_dedup_idempotent_in_pipeline(spark, synth_dir):
    from osm_addr_bot_spark.operators.dedup import filter_priority
    from osm_addr_bot_spark.checks import fan_out_checks
    from osm_addr_bot_spark.operators.parse import parse_elements

    docs = spark.read.parquet(f"{synth_dir}/documents.parquet")
    issues = fan_out_checks(parse_elements(docs))
    once = filter_priority(issues, consider_post_fn=False)
    twice = filter_priority(once, consider_post_fn=False)
    assert once.count() == twice.count()


def test_compose_message_goldens():
    """Byte-exact U5 goldens (FIXTURES.md §5) — derived from the cited
    template (reference main.py:108-162), not copied output."""
    issues = [
        {"check_id": "BAD_POSTCODE_FORMAT", "element_type": "way", "element_id": 9,
         "street": None, "doc_id": "d1", "span_offset": 1},
        {"check_id": "BAD_POSTCODE_FORMAT", "element_type": "node", "element_id": 3,
         "street": None, "doc_id": "d1", "span_offset": 0},
    ]
    # new user (count <= 15): greeting + extra + docs + help sign-off
    msg = compose_message("ADDRESS", issues, changesets_count=5)
    assert msg == (
        "🗺️ Witaj na OpenStreetMap!\n\n"
        "Zauważyłem, że Twoja zmiana zawiera niepoprawne adresy. "
        "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:\n\n"
        "Nieprawidłowa wartość addr:postcode. "
        "Kod pocztowy powinien być formatu XX-XXX, gdzie X oznacza cyfrę.\n"
        "https://www.openstreetmap.org/node/3\n"
        "https://www.openstreetmap.org/way/9\n"
        "\n"
        "Dokumentacja adresów (po polsku):\n"
        "https://wiki.openstreetmap.org/wiki/Pl:Key:addr:*\n\n"
        "W razie problemów lub pytań, proszę pisać. Chętnie pomogę.\n"
        "Pozdrawiam! 🦀"
    )
    # pro user (count >= 800): no greeting, no extra, no docs, short sign-off
    msg_pro = compose_message("ADDRESS", issues, changesets_count=1000)
    assert msg_pro == (
        "Zauważyłem, że Twoja zmiana zawiera niepoprawne adresy. "
        "Przygotowałem listę obiektów do poprawy oraz dodatkowe informacje:\n\n"
        "Nieprawidłowa wartość addr:postcode.\n"
        "https://www.openstreetmap.org/node/3\n"
        "https://www.openstreetmap.org/way/9\n"
        "\n"
        "Pozdrawiam! 🦀"
    )


def test_compose_message_street_title_grouping():
    # >= 3 UNKNOWN_STREET_NAME entries group by street (reference check.py:25-37)
    issues = [
        {"check_id": "UNKNOWN_STREET_NAME", "element_type": "node", "element_id": i,
         "street": s, "doc_id": "d1", "span_offset": i}
        for i, s in enumerate(["Polna", "Polna", "Leśna"])
    ]
    msg = compose_message("ADDRESS", issues, changesets_count=100)
    assert '\n"Polna":\n' in msg and '\n"Leśna":\n' in msg
    assert msg.index('"Polna"') < msg.index('"Leśna"')  # first-occurrence order
    # non-critical check only -> non-critical header
    assert msg.startswith("Zauważyłem, że Twoja zmiana zawiera adresy wymagające")

    # 2 entries: no titles
    msg2 = compose_message("ADDRESS", issues[:2], changesets_count=100)
    assert '"Polna"' not in msg2


def test_checkpoint_resume(spark, synth_dir, tmp_path):
    """Kill-after-stage resume: run once with stage checkpoints, corrupt
    nothing, run again — stages replay from manifests and outputs agree
    (ST2/ST3; resume test of FIXTURES.md §5)."""
    ck = tmp_path / "ckpt"
    out1 = run_pipeline(
        spark, synth_dir, checkpoint_dir=str(ck), start_ts=T0, end_ts=T0 + WINDOW_S,
        stage_checkpoints=True,
    )
    n1 = out1["issues"].count()
    rows1 = {
        (r["category"], r["check_id"], r["changeset_id"], r["uid"])
        for r in out1["issues"].collect()
    }

    # state writes LAST: watermark must not move until the caller commits
    ckpt = Checkpoint(str(ck))
    assert ckpt.read_watermark() is None
    out1["commit"]()
    assert ckpt.read_watermark() == T0 + WINDOW_S

    # lineage manifests exist with per-partition rows, one per stage
    # boundary
    stages = ck / "stages" / f"run-{T0 + WINDOW_S}"
    assert {p.parent.name for p in stages.glob("*/manifest.json")} == {
        "fanout", "post_stages", "final_issues"
    }
    m = json.loads((stages / "fanout" / "manifest.json").read_text())
    assert m["rows"] == sum(p["rows"] for p in m["partitions"])

    # the in-memory run materializes the same boundaries by persisting
    # them, and agrees with the checkpointed run
    mem = run_pipeline(spark, synth_dir, start_ts=T0, end_ts=T0 + WINDOW_S)
    assert mem["issues"].storageLevel == PERSIST_LEVEL
    rows_mem = {
        (r["category"], r["check_id"], r["changeset_id"], r["uid"])
        for r in mem["issues"].collect()
    }
    assert rows_mem == rows1
    mem["issues"].unpersist()

    # simulate restart: second run must reuse committed stages (same rows)
    out2 = run_pipeline(
        spark, synth_dir, checkpoint_dir=str(ck), start_ts=T0, end_ts=T0 + WINDOW_S,
        stage_checkpoints=True,
    )
    rows2 = {
        (r["category"], r["check_id"], r["changeset_id"], r["uid"])
        for r in out2["issues"].collect()
    }
    assert rows1 == rows2 and n1 == len(rows1)

    # partial kill: drop a late-stage checkpoint, keep early ones -> rerun
    # recomputes only the missing tail and still agrees
    shutil.rmtree(ck / "stages" / f"run-{T0 + WINDOW_S}" / "final_issues")
    out3 = run_pipeline(
        spark, synth_dir, checkpoint_dir=str(ck), start_ts=T0, end_ts=T0 + WINDOW_S,
        stage_checkpoints=True,
    )
    rows3 = {
        (r["category"], r["check_id"], r["changeset_id"], r["uid"])
        for r in out3["issues"].collect()
    }
    assert rows3 == rows1


def test_stage_checkpoints_require_checkpoint_dir(spark, tmp_path):
    """Stage checkpoints are keyed by window alone (run-<end_ts>). Two
    worlds over the same window with no checkpoint dir of their own
    would share one stage dir, and the second run would silently resume
    the first world's stages; run_pipeline refuses instead."""
    from osm_addr_bot_spark.datagen import generate

    for seed in (1, 2):
        world = tmp_path / f"w{seed}"
        generate(world, n_docs=20, seed=seed)
        with pytest.raises(ValueError, match="checkpoint_dir"):
            run_pipeline(spark, str(world), start_ts=T0, end_ts=T0 + WINDOW_S, stage_checkpoints=True)


def test_rescheduled_backlog_merges_next_run(spark, synth_dir, tmp_path):
    """Open changesets reschedule; the next run merges the backlog
    (reference state.py:54-77, main.py:215-217)."""
    ck = tmp_path / "ck2"
    out1 = run_pipeline(
        spark, synth_dir, checkpoint_dir=str(ck), start_ts=T0, end_ts=T0 + WINDOW_S,
    )
    resched = out1["rescheduled"]
    n_resched = resched.count()
    if n_resched == 0:
        return  # generator produced no open changesets in this seed — covered elsewhere

    out1["commit"]()
    ckpt = Checkpoint(str(ck))
    backlog = ckpt.read_rescheduled(spark, start_ts=T0 + WINDOW_S + 10)
    assert backlog is not None and backlog.count() == n_resched


def test_scan_estimate_accepts_spark_size_strings(spark, tmp_path):
    """spark.sql.files.maxPartitionBytes takes any size string Spark
    parses ("128mb", "1g", plain bytes); the scan estimate must read it
    as Spark does, not crash on valid values. One sparse 200 MiB file:
    two 128 MiB splits, one 1 GiB split."""
    from osm_addr_bot_spark.pipeline import _estimated_scan_partitions

    with open(tmp_path / "part-0.parquet", "wb") as f:
        f.truncate(200 << 20)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    try:
        for value, want in (("128mb", 2), ("1g", 1), ("134217728", 2)):
            spark.conf.set(key, value)
            assert _estimated_scan_partitions(spark, str(tmp_path)) == want, value
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
