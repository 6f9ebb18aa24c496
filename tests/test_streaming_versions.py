"""Versioned recompute views: snapshot diffs and SCD2 intervals."""

from kgx.plans import versions


def test_snapshot_diff_semantics(spark):
    from kgx.plans import versions

    old = spark.createDataFrame(
        [("d1", "a", "r", "b"), ("d1", "a", "r", "c"), ("d2", "x", "r", "y")],
        "doc_id string, subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("d1", "a", "r", "b"), ("d1", "a", "r", "z"), ("d3", "m", "r", "n")],
        "doc_id string, subj string, pred string, obj string",
    )
    got = {
        (r.doc_id, r.subj, r.pred, r.obj): r.status
        for r in versions.snapshot_diff(
            old, new, ["doc_id", "subj", "pred", "obj"]
        ).collect()
    }
    assert got == {
        ("d1", "a", "r", "c"): "removed",
        ("d2", "x", "r", "y"): "removed",
        ("d1", "a", "r", "z"): "added",
        ("d3", "m", "r", "n"): "added",
    }


def test_snapshot_diff_dup_insensitive_and_empty(spark):
    from kgx.plans import versions

    a = spark.createDataFrame(
        [("d1", "a"), ("d1", "a"), ("d2", "b")], "doc_id string, subj string"
    )
    b = spark.createDataFrame([("d2", "b")], "doc_id string, subj string")
    got = versions.snapshot_diff(a, b, ["doc_id", "subj"]).collect()
    assert [(r.doc_id, r.subj, r.status) for r in got] == [("d1", "a", "removed")]
    assert versions.snapshot_diff(a, a, ["doc_id", "subj"]).count() == 0


def test_scd2_intervals_gaps_and_islands(spark):
    """Hand-checkable presence log: gaps split intervals, reappearance
    opens a new one, only segments reaching the newest run are current."""
    rows = [
        # (subj, pred, obj, run_seq)
        ("a", "r", "b", 1), ("a", "r", "b", 3),          # gap at run 2
        ("c", "r", "d", 2), ("c", "r", "d", 3),          # late arrival
        ("e", "r", "f", 1), ("e", "r", "f", 2),          # retired
        ("g", "r", "h", 2), ("g", "r", "h", 2),          # dup presence row
    ]
    runs = spark.createDataFrame(
        rows, "subj string, pred string, obj string, run_seq long"
    )
    got = {(r.subj, r.first_seq, r.last_seq, r.is_current)
           for r in versions.scd2_intervals(runs).collect()}
    assert got == {
        ("a", 1, 1, False), ("a", 3, 3, True),
        ("c", 2, 3, True),
        ("e", 1, 2, False),
        ("g", 2, 2, False),
    }
    # the newest run is read from the log itself: here it is 5, and a
    # segment ending at run 3 is no longer current
    later = runs.unionByName(spark.createDataFrame(
        [("a", "r", "b", 4), ("a", "r", "b", 5), ("i", "r", "j", 5)],
        "subj string, pred string, obj string, run_seq long",
    ))
    got = {(r.subj, r.first_seq, r.last_seq, r.is_current)
           for r in versions.scd2_intervals(later).collect()}
    assert got == {
        ("a", 1, 1, False), ("a", 3, 5, True),
        ("c", 2, 3, False),
        ("e", 1, 2, False),
        ("g", 2, 2, False),
        ("i", 5, 5, True),
    }
