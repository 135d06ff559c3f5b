"""Continuous validation of a triple CDC stream: per-micro-batch
upsert + incremental revalidation; the final report must equal a full
batch validation of everything ingested, replays must be no-ops."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from shacl_spark.functions.terms import RDF, SH, TRIPLE_SCHEMA, XSD, triples_from_rows
from shacl_spark.shacl import validate
from shacl_spark.streaming.validate_stream import StreamingValidator

T = RDF + "type"
INT = XSD + "integer"
STR = XSD + "string"

SHAPES = [
    ("ex:S", T, SH + "NodeShape"),
    ("ex:S", SH + "targetClass", "ex:Person"),
    ("ex:S", SH + "property", "ex:SP"),
    ("ex:SP", SH + "path", "ex:name"),
    ("ex:SP", SH + "minCount", "1", "literal", INT),
    ("ex:S", SH + "property", "ex:SK"),
    ("ex:SK", SH + "path", "ex:knows"),
    ("ex:SK", SH + "class", "ex:Person"),
]

BATCH1 = [
    ("ex:a", T, "ex:Person"),
    ("ex:a", "ex:name", "A", "literal", STR),
    ("ex:b", T, "ex:Person"),           # no name -> violation
    ("ex:a", "ex:knows", "ex:rock"),    # untyped value -> violation
]
BATCH2 = [
    ("ex:b", "ex:name", "B", "literal", STR),   # fixes b's MinCount
    ("ex:rock", T, "ex:Person"),                # fixes a's sh:class
    ("ex:c", T, "ex:Person"),                   # new violation (no name)
]

SIX = [f.name for f in TRIPLE_SCHEMA.fields]


def _write_batch(spark, rows, stream_dir, name):
    (
        triples_from_rows(spark, rows)
        .select(SIX)
        .coalesce(1)
        .write.mode("append")
        .parquet(os.path.join(stream_dir, name))
    )


def _canon(report):
    return sorted(
        tuple("␀" if v is None else str(v) for v in r) for r in report.collect()
    )


def _run(spark, sv, stream_dir):
    stream = (
        spark.readStream.schema(TRIPLE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stream_dir, "*"))
    )
    q = sv.start(stream)
    q.awaitTermination()


def test_stream_validation_end_to_end(spark, tmp_path):
    stream_dir = str(tmp_path / "in")
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "target"), str(tmp_path / "report"), n_parts=4
    )
    _write_batch(spark, BATCH1, stream_dir, "b1")
    _write_batch(spark, BATCH2, stream_dir, "b2")
    _run(spark, sv, stream_dir)

    # one report version per non-empty micro-batch
    assert len(sv._versions()) == 2
    # the merged state equals everything ingested
    assert sv.sink.current().count() == len(BATCH1) + len(BATCH2)
    # the final report equals FULL validation of the union
    full = validate(spark, triples_from_rows(spark, BATCH1 + BATCH2), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)
    # content: batch2 fixed b's name and a's sh:class, and created two
    # NEW MinCount violations — ex:c, and ex:rock which just became a
    # Person (without a name)
    focuses = {
        (r["focus"], r["component"].split("#")[-1])
        for r in sv.current_report().collect()
    }
    assert focuses == {
        ("ex:c", "MinCountConstraintComponent"),
        ("ex:rock", "MinCountConstraintComponent"),
    }

    # replaying the whole stream (no checkpoint -> everything re-reads)
    # must be a NO-OP: the upsert anti-joins every row away, no new
    # report version appears
    _run(spark, sv, stream_dir)
    assert len(sv._versions()) == 2
    assert sv.sink.current().count() == len(BATCH1) + len(BATCH2)


def test_edge_cache_steady_state(spark, tmp_path):
    """Batch 2 collects the footprint adjacency once; batch 3 runs on
    the driver-maintained copy (mode 'cached' — no per-batch edge
    collect) and the final report still equals full validation."""
    from shacl_spark.shacl import incremental as inc_mod

    stream_dir = str(tmp_path / "in")
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "target"), str(tmp_path / "report"), n_parts=4
    )
    b3 = [
        ("ex:c", "ex:name", "C", "literal", STR),   # fixes c
        ("ex:d", T, "ex:Person"),                   # new violation
        ("ex:d", "ex:knows", "ex:rock"),            # rock IS a Person now
    ]
    _write_batch(spark, BATCH1, stream_dir, "b1")
    _write_batch(spark, BATCH2, stream_dir, "b2")
    _write_batch(spark, b3, stream_dir, "b3")
    modes: list = []
    orig = inc_mod.incremental_revalidate

    def spy(*a, **kw):
        st = kw.setdefault("stats", {})
        out = orig(*a, **kw)
        modes.append(st.get("edge_mode"))
        return out

    import shacl_spark.streaming.validate_stream as vs_mod

    vs_mod.incremental_revalidate, inc_mod.incremental_revalidate = spy, spy
    try:
        _run(spark, sv, stream_dir)
    finally:
        vs_mod.incremental_revalidate = inc_mod.incremental_revalidate = orig
    # batch1 = first-batch full validate (no incremental call) which
    # WARMS the edge cache (r06); batch2 and batch3 both reuse the
    # maintained adjacency — no cold per-batch edge collect at all
    assert modes == ["cached", "cached"]
    assert sv._edges is not None and not sv._edges.dirty
    full = validate(spark, triples_from_rows(spark, BATCH1 + BATCH2 + b3), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)


def test_edge_cache_dropped_when_vocab_outgrows_cap(spark, tmp_path, monkeypatch):
    """Retractions never prune the edge cache's vocab: churning adds and
    retractions grows it by two strings a round while the edge count
    stays put, and the cache is dropped once the vocab passes twice the
    edge-collect cap (the next batch rebuilds it from the target)."""
    from shacl_spark.shacl import incremental as inc_mod

    monkeypatch.setattr(inc_mod, "EDGE_COLLECT_MAX", 4)
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )
    fp = inc_mod.shapes_footprint(sv.shapes)
    sv._edges = inc_mod.collect_local_edges(triples_from_rows(spark, BATCH1), fp, 4)
    assert sv._edges.n_rows == 1  # ex:a -ex:knows-> ex:rock: two strings
    rounds = 0
    while sv._edges is not None:
        rounds += 1
        assert rounds <= 4
        row = [(f"ex:s{rounds}", "ex:knows", f"ex:o{rounds}")]
        for op in "+-":
            if sv._edges is not None:
                assert not sv._edges.dirty and sv._edges.n_rows <= 2
                sv._roll_edges(triples_from_rows(spark, row).withColumn("op", F.lit(op)))
    # 2 + 2 per round strings: the 4th round's add passes 2 × 4
    assert rounds == 4


def _batch_df(spark, rows):
    return triples_from_rows(spark, rows).select(SIX)


def test_crash_between_append_and_report(spark, tmp_path):
    """ADVICE r03 (medium): a crash AFTER the target append but BEFORE
    the report write must not leave the report permanently stale — the
    journalled delta lets the epoch replay recompute it."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )
    sv._on_batch(_batch_df(spark, BATCH1), 0)
    assert len(sv._versions()) == 1

    # simulate epoch 1 crashing between the two writes: journal + append
    # happen, the report write does not
    b2 = _batch_df(spark, BATCH2)
    applied = sv.sink._compute_delta(b2)
    applied.drop("tid", "part").write.mode("overwrite").parquet(sv._delta_dir(1))
    open(os.path.join(sv._delta_dir(1), f"_fp_{sv._batch_fp(b2)}"), "w").close()
    sv.sink._append(applied)
    assert sv.sink.current().count() == len(BATCH1) + len(BATCH2)
    assert len(sv._versions()) == 1  # report is behind the target

    # replay of epoch 1: were the delta recomputed from the target it
    # would be EMPTY (rows already applied) and the report would stay
    # stale forever; the journal recovery recomputes it instead
    sv._on_batch(b2, 1)
    full = validate(spark, triples_from_rows(spark, BATCH1 + BATCH2), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)

    # a second replay is a no-op (journal pruned, delta empty)
    n = len(sv._versions())
    sv._on_batch(b2, 1)
    assert len(sv._versions()) == n


def test_crash_between_journal_and_append(spark, tmp_path):
    """Crash after the journal write but BEFORE the target append: the
    replay must finish the append (idempotent remainder) and produce
    the same report as an uninterrupted run."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )
    sv._on_batch(_batch_df(spark, BATCH1), 0)

    b2 = _batch_df(spark, BATCH2)
    applied = sv.sink._compute_delta(b2)
    applied.drop("tid", "part").write.mode("overwrite").parquet(sv._delta_dir(1))
    open(os.path.join(sv._delta_dir(1), f"_fp_{sv._batch_fp(b2)}"), "w").close()
    # crash: no append, no report

    sv._on_batch(b2, 1)
    assert sv.sink.current().count() == len(BATCH1) + len(BATCH2)
    full = validate(spark, triples_from_rows(spark, BATCH1 + BATCH2), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)


def test_restarted_stream_epoch_id_collision(spark, tmp_path):
    """r04 review: a stream restarted WITHOUT a checkpoint location
    numbers epochs from 0 again — a journal/marker keyed only by epoch
    id would swallow the new batch.  The content fingerprint must route
    the colliding epoch to the normal path."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"), n_parts=4
    )
    sv._on_batch(_batch_df(spark, BATCH1), 0)
    n1 = len(sv._versions())

    # leave a stale committed journal for epoch 0 (crash before report,
    # journal never pruned), then "restart": DIFFERENT data as epoch 0
    b1 = _batch_df(spark, BATCH1)
    applied = sv.sink._compute_delta(b1)  # empty — batch already merged
    stale = _batch_df(spark, BATCH1)
    stale.limit(1).write.mode("overwrite").parquet(sv._delta_dir(0))
    open(os.path.join(sv._delta_dir(0), "_fp_STALE"), "w").close()

    sv._on_batch(_batch_df(spark, BATCH2), 0)  # new content, reused id
    assert sv.sink.current().count() == len(BATCH1) + len(BATCH2)
    full = validate(spark, triples_from_rows(spark, BATCH1 + BATCH2), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)
    assert len(sv._versions()) == n1 + 1

    # and an exact REPLAY of the completed batch is still a no-op
    nv = len(sv._versions())
    sv._on_batch(_batch_df(spark, BATCH2), 0)
    assert len(sv._versions()) == nv


def _op_batch(spark, rows_with_op):
    from pyspark.sql import functions as F

    rows = [r[0] for r in rows_with_op]
    ops = [r[1] for r in rows_with_op]
    df = triples_from_rows(spark, rows).select(SIX)
    tagged = df.limit(0).withColumn("op", F.lit("+"))
    for row, op in zip(rows, ops):
        tagged = tagged.unionByName(
            triples_from_rows(spark, [row]).select(SIX).withColumn("op", F.lit(op))
        )
    return tagged


def test_tombstone_sink_merge_on_read(spark, tmp_path):
    """r04 CDC-with-deletes sink: live set = highest-seq op per triple
    identity filtered to '+'; same-batch +/- nets to '-'; replay and
    compaction preserve the state."""
    from shacl_spark.streaming.upsert import TombstoneTripleSink

    sink = TombstoneTripleSink(spark, str(tmp_path / "t"), n_parts=4)
    t1 = ("ex:a", "ex:p", "1", "literal", XSD + "string")
    t2 = ("ex:b", "ex:p", "2", "literal", XSD + "string")
    t3 = ("ex:c", "ex:p", "3", "literal", XSD + "string")

    ch1 = sink._merge_batch(_op_batch(spark, [(t1, "+"), (t2, "+"),
                                              (t3, "+"), (t3, "-")]), 0)
    assert ch1.count() == 2  # t3 nets to '-' on an empty target: no-op
    live = {r["subj"] for r in sink.current().collect()}
    assert live == {"ex:a", "ex:b"}

    ch2 = sink._merge_batch(_op_batch(spark, [(t1, "-"), (t3, "+"),
                                              (t2, "+")]), 1)
    # t1 removed (was live), t3 added, t2 already live -> no-op
    assert {(r["subj"]) for r in ch2.collect()} == {"ex:a", "ex:c"}
    assert {r["subj"] for r in sink.current().collect()} == {"ex:b", "ex:c"}

    # epoch replay: same batch, same seq -> merge computes an empty
    # net delta (t1 already dead, t3 already live, t2 live)
    ch2b = sink._merge_batch(_op_batch(spark, [(t1, "-"), (t3, "+"),
                                               (t2, "+")]), 1)
    assert ch2b.isEmpty()
    assert {r["subj"] for r in sink.current().collect()} == {"ex:b", "ex:c"}

    sink.compact()
    assert {r["subj"] for r in sink.current().collect()} == {"ex:b", "ex:c"}
    # re-add after a compacted delete works
    sink._merge_batch(_op_batch(spark, [(t1, "+")]), 2)
    assert {r["subj"] for r in sink.current().collect()} == {"ex:a", "ex:b", "ex:c"}


def test_cdc_stream_validation_with_deletes(spark, tmp_path):
    """CDC mode: retractions seed revalidation — a deleted name CREATES
    a minCount violation, a deleted bad-typed edge CLEARS one; final
    report equals full validation of the live set."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"),
        n_parts=4, cdc=True,
    )
    base = [
        (("ex:a", RDF + "type", "ex:Person"), "+"),
        (("ex:a", "ex:name", "A", "literal", XSD + "string"), "+"),
        (("ex:b", RDF + "type", "ex:Person"), "+"),
        (("ex:b", "ex:name", "B", "literal", XSD + "string"), "+"),
        (("ex:a", "ex:knows", "ex:rock"), "+"),   # untyped -> violation
    ]
    sv._on_batch(_op_batch(spark, base), 0)
    got0 = {(r["focus"], r["component"].split("#")[-1])
            for r in sv.current_report().collect()}
    assert got0 == {("ex:a", "ClassConstraintComponent")}

    delta = [
        (("ex:b", "ex:name", "B", "literal", XSD + "string"), "-"),  # new minCount viol
        (("ex:a", "ex:knows", "ex:rock"), "-"),                      # clears sh:class viol
    ]
    sv._on_batch(_op_batch(spark, delta), 1)
    live_rows = [tuple(r) for r in sv.sink.current().collect()]
    full = validate(spark, sv.sink.current(), SHAPES)
    assert _canon(sv.current_report()) == _canon(full)
    got1 = {(r["focus"], r["component"].split("#")[-1])
            for r in sv.current_report().collect()}
    assert got1 == {("ex:b", "MinCountConstraintComponent")}

    # replay is a no-op
    nv = len(sv._versions())
    sv._on_batch(_op_batch(spark, delta), 1)
    assert len(sv._versions()) == nv


def test_cdc_restart_epoch_renumbering_tombstone_wins(spark, tmp_path):
    """ADVICE r04 (medium): seq must come from the TARGET, not the epoch
    id.  A checkpoint-less restart renumbers epochs from 0; a tombstone
    arriving as 'epoch 0' after an add written at a higher epoch must
    still win the merge-on-read window."""
    from shacl_spark.streaming.upsert import TombstoneTripleSink

    t1 = ("ex:a", "ex:p", "1", "literal", XSD + "string")
    t2 = ("ex:b", "ex:p", "2", "literal", XSD + "string")

    sink = TombstoneTripleSink(spark, str(tmp_path / "t"), n_parts=4)
    sink._merge_batch(_op_batch(spark, [(t1, "+")]), 5)
    sink._merge_batch(_op_batch(spark, [(t2, "+")]), 6)
    assert {r["subj"] for r in sink.current().collect()} == {"ex:a", "ex:b"}

    # "restart": a fresh sink on the same target, epochs from 0 again
    sink2 = TombstoneTripleSink(spark, str(tmp_path / "t"), n_parts=4)
    ch = sink2._merge_batch(_op_batch(spark, [(t1, "-")]), 0)
    assert {r["subj"] for r in ch.collect()} == {"ex:a"}  # delta reported
    assert {r["subj"] for r in sink2.current().collect()} == {"ex:b"}

    # and a re-add after the restart-delete also wins
    sink3 = TombstoneTripleSink(spark, str(tmp_path / "t"), n_parts=4)
    sink3._merge_batch(_op_batch(spark, [(t1, "+")]), 0)
    assert {r["subj"] for r in sink3.current().collect()} == {"ex:a", "ex:b"}


def test_cdc_stream_restart_epoch_collision(spark, tmp_path):
    """End-to-end CDC twin of the non-CDC restart test: a restarted
    stream reusing epoch 0 for a RETRACTION must apply it and keep the
    report equal to full validation of the live set."""
    sv = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"),
        n_parts=4, cdc=True,
    )
    base = [
        (("ex:a", RDF + "type", "ex:Person"), "+"),
        (("ex:a", "ex:name", "A", "literal", XSD + "string"), "+"),
        (("ex:a", "ex:knows", "ex:rock"), "+"),   # untyped -> violation
    ]
    sv._on_batch(_op_batch(spark, base), 0)
    assert len(sv.current_report().collect()) == 1

    # restart: fresh validator over the same dirs, epoch ids from 0
    sv2 = StreamingValidator(
        spark, SHAPES, str(tmp_path / "t"), str(tmp_path / "r"),
        n_parts=4, cdc=True,
    )
    sv2._on_batch(_op_batch(spark, [(("ex:a", "ex:knows", "ex:rock"), "-")]), 0)
    assert {r["subj"] for r in sv2.sink.current().collect()} == {"ex:a"}
    full = validate(spark, sv2.sink.current(), SHAPES)
    assert _canon(sv2.current_report()) == _canon(full)
    assert sv2.current_report().isEmpty()
