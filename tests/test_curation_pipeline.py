"""End-to-end curation funnel: stage monotonicity, planted-document fates,
and output round-trip (quality gate → exact dedup → near-dup → PII scrub →
sentence prune).  Complements the per-operator tests in test_curation.py /
test_dedup.py by checking the stages compose: each planted document takes
exactly the exit the funnel order implies.

doc_id is bigint throughout (the corpus contract — sentence_prune's
first-occurrence order key is ``doc_id * 2^20 + idx``)."""

import shutil
import tempfile

import pytest

from kgx.plans.curation_pipeline import CurationConfig, run

GOOD = (
    "The research team published their findings on distributed systems. "
    "Results indicate that careful partitioning improves throughput. "
    "The committee approved further funding for the laboratory. "
    "Engineers deployed the new pipeline across several regions. "
    "Every metric improved after the rollout finished last quarter."
)
GOOD2 = (
    "Astronomers observed the distant galaxy through the new telescope. "
    "Measurements confirmed the predicted rotation curve anomaly. "
    "The observatory scheduled follow-up sessions for the winter. "
    "Students analyzed the spectra during the summer program. "
    "A joint paper appeared in the spring conference proceedings."
)
PII_DOC = (
    "Please contact the coordinator at alice@example.com for details. "
    "Her office line is 415-555-2671 and the backup host is 10.0.0.12. "
    "The onboarding packet explains the remaining enrollment steps. "
    "New members should read the safety handbook before the first visit. "
    "Sessions run every weekday morning in the main building."
)


FUNNEL_ROWS = [
    (1, GOOD),
    (2, GOOD),  # exact dup of doc 1
    (3, GOOD.replace("quarter", "month")),  # one-token change: near-dup of doc 1
    (4, GOOD2),
    (5, PII_DOC),
    (6, "too short"),  # quality-gate kill
    (7, GOOD2),  # exact dup of doc 4
]


@pytest.fixture(scope="module")
def funnel_result(spark):
    documents = spark.createDataFrame(FUNNEL_ROWS, "doc_id long, text string")
    out = tempfile.mkdtemp(prefix="kgx_curation_")
    metrics = run(spark, documents, _resume_cfg(out, resume=False))
    yield spark, out, metrics
    shutil.rmtree(out, ignore_errors=True)


def _no_count(self):
    raise AssertionError("a funnel boundary ran a count job of its own")


def test_funnel_counts_monotone_and_exact(funnel_result):
    _, _, m = funnel_result
    assert m["input"] == 7
    assert m["after_quality"] == 6  # doc 6 out
    assert m["after_exact_dedup"] == 4  # docs 2, 7 out
    assert m["after_near_dup"] == 3  # doc 3 out
    assert m["final_docs"] == 3
    assert m["pii_redactions"] >= 3  # email + phone + ip in doc 5
    order = ["input", "after_quality", "after_exact_dedup", "after_near_dup", "final_docs"]
    vals = [m[k] for k in order]
    assert vals == sorted(vals, reverse=True)


def test_funnel_counts_come_from_the_checkpoint_pass(funnel_result, monkeypatch, tmp_path):
    # each boundary is counted by the checkpoint job that pins it: with
    # DataFrame.count raising, run returns the same funnel, and the pii
    # stage's redaction sum exactly (email + phone + ip in doc 5)
    spark, _, m = funnel_result
    documents = spark.createDataFrame(FUNNEL_ROWS, "doc_id long, text string")
    monkeypatch.setattr(type(documents), "count", _no_count)
    got = run(spark, documents, _resume_cfg(str(tmp_path), resume=False))
    assert got == m
    assert got["pii_redactions"] == 3


def test_curated_output_round_trip(funnel_result):
    spark, out, m = funnel_result
    curated = spark.read.parquet(out + "/curated")
    assert set(curated.columns) == {"doc_id", "text"}
    ids = {r.doc_id for r in curated.select("doc_id").collect()}
    assert ids == {1, 4, 5}
    # PII was scrubbed in the surviving doc-5 text
    d5 = curated.where("doc_id = 5").collect()[0].text
    assert "alice@example.com" not in d5
    assert "415-555-2671" not in d5
    assert "10.0.0.12" not in d5
    # funnel metrics table round-trips with the returned dict
    funnel = spark.read.parquet(out + "/funnel").collect()[0].asDict()
    assert funnel == m


def test_sentence_prune_drops_fully_duplicated_doc(spark, tmp_path):
    # doc 2 consists entirely of doc 1's sentences; threshold 0.9 keeps the
    # near-dup stage out of the way so the prune stage is what removes it
    rows = [(1, GOOD), (2, ". ".join(GOOD.split(". ")[:3]) + ".")]
    documents = spark.createDataFrame(rows, "doc_id long, text string")
    m = run(
        spark,
        documents,
        CurationConfig(
            out_dir=str(tmp_path),
            min_tokens=5,
            near_dup_threshold=0.9,
            scrub_pii=False,
            quality_kwargs={"max_symbol_ratio": 0.2, "min_stop_hits": 0},
        ),
    )
    assert m["after_near_dup"] == 2
    assert m["final_docs"] == 1


def test_sentence_prune_keeps_dotted_tokens_whole(spark, tmp_path):
    # a '.' inside an email or an IP address does not end a sentence: with
    # the scrubber off, the prune stage must hand doc 5's text back whole
    # (it re-joins with '. ', so only the final period is not restored)
    documents = spark.createDataFrame([(1, GOOD), (5, PII_DOC)], "doc_id long, text string")
    run(
        spark,
        documents,
        CurationConfig(
            out_dir=str(tmp_path),
            min_tokens=20,
            scrub_pii=False,
            quality_kwargs={"max_symbol_ratio": 0.2},
        ),
    )
    d5 = spark.read.parquet(str(tmp_path / "curated")).where("doc_id = 5").collect()[0].text
    assert "alice@example.com" in d5
    assert "10.0.0.12" in d5
    assert d5 == PII_DOC.removesuffix(".")


@pytest.mark.parametrize(
    "scrub_pii,prune_sentences",
    [(True, True), (True, False), (False, True), (False, False)],
    ids=["pii-prune", "pii-noprune", "nopii-prune", "nopii-noprune"],
)
def test_funnel_final_matches_run_survivors(spark, tmp_path, scrub_pii, prune_sentences):
    # the lazy gate view and the counting job agree row-for-row, text
    # included, on every stage mix
    from kgx.plans.curation_pipeline import clear_funnel_cache, funnel_final

    near_dup = GOOD.replace("quarter", "month")
    rows = [(1, GOOD), (2, GOOD), (3, near_dup), (4, GOOD2), (5, PII_DOC), (6, "too short")]
    documents = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CurationConfig(
        out_dir=str(tmp_path),
        min_tokens=20,
        near_dup_threshold=0.5,
        scrub_pii=scrub_pii,
        prune_sentences=prune_sentences,
        quality_kwargs={"max_symbol_ratio": 0.2},
    )
    try:
        lazy = {(r.doc_id, r.text) for r in funnel_final(documents, cfg).collect()}
    finally:
        clear_funnel_cache()
    m = run(spark, documents, cfg)
    written = spark.read.parquet(str(tmp_path / "curated")).collect()
    curated = {(r.doc_id, r.text) for r in written}
    assert lazy == curated
    assert m["final_docs"] == len(lazy)
    assert {d for d, _ in lazy} == {1, 4, 5}
    assert any("415-555-2671" in t for _, t in lazy) != scrub_pii


@pytest.fixture(scope="module")
def funnel_plan(spark):
    from kgx.plans.curation_pipeline import clear_funnel_cache, funnel_final

    rows = [(i, GOOD.replace("research", f"research{i}")) for i in range(8)]
    documents = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = CurationConfig(
        out_dir="", min_tokens=5,
        quality_kwargs={"max_symbol_ratio": 0.2},
    )
    try:
        yield funnel_final(documents, cfg)
    finally:
        clear_funnel_cache()


def test_funnel_plan_reuses_cached_survivors(spark, funnel_plan):
    # the funnel plan must read its survivor-set boundaries from
    # checkpointed data (a Scan ExistingRDD leaf over localCheckpoint
    # blocks, no persisted InMemoryRelation) and contain no cartesian
    # anywhere — a fully lazy composition re-evaluates the quality+dedup
    # chain multiplicatively
    plan = funnel_plan._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Scan ExistingRDD" in plan
    assert "localCheckpoint" in plan
    assert "InMemoryTableScan" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_funnel_plan_text_stays_small(funnel_plan):
    # each checkpointed boundary cuts the upstream stages out of the plan;
    # with persisted boundaries every InMemoryRelation embedded its whole
    # upstream plan and this text was ~2 MB on these 8 documents
    size = len(funnel_plan._jdf.queryExecution().toString())
    assert size < 200_000, size


def test_corrupt_stage_lineage_raises(spark, tmp_path):
    # a corrupt funnel lineage must fail the resumed job, not read as
    # "nothing committed" and silently redo every stage
    import os

    from kgx.plans.curation_pipeline import _stage_lineage_path, read_stage_lineage

    out = str(tmp_path)
    assert read_stage_lineage(spark, out) == {}  # fresh out_dir
    os.makedirs(_stage_lineage_path(out))
    with open(os.path.join(_stage_lineage_path(out), "part-0.parquet"), "w") as f:
        f.write("not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        read_stage_lineage(spark, out)


def _resume_cfg(out, **kw):
    base = dict(
        out_dir=out,
        min_tokens=20,
        near_dup_threshold=0.5,
        quality_kwargs={"max_symbol_ratio": 0.2},
        resume=True,
    )
    base.update(kw)
    return CurationConfig(**base)


def test_funnel_resume_skips_committed_stages(spark):
    import shutil as _sh
    import tempfile as _tf

    rows = [(1, GOOD), (2, GOOD), (3, GOOD2), (5, PII_DOC)]
    documents = spark.createDataFrame(rows, "doc_id long, text string")
    out = _tf.mkdtemp(prefix="kgx_cur_resume_")
    try:
        m1 = run(spark, documents, _resume_cfg(out))
        from kgx.plans.curation_pipeline import read_stage_lineage

        lin = read_stage_lineage(spark, out)
        assert set(lin) == {"quality", "exact_dedup", "near_dup", "pii"}

        # restart with a POISONED input: every stage is committed, so the
        # restarted run must read only snapshots — if any committed stage
        # recomputed, the poison would surface in the metrics/output
        poisoned = spark.createDataFrame(
            [(9, "totally different text that would change every count")],
            "doc_id long, text string",
        )
        m2 = run(spark, poisoned, _resume_cfg(out))
        for k in ("after_quality", "after_exact_dedup", "after_near_dup",
                  "pii_redactions", "final_docs"):
            assert m2[k] == m1[k], k
        ids = {r.doc_id for r in spark.read.parquet(out + "/curated").collect()}
        assert ids == {1, 3, 5}
    finally:
        _sh.rmtree(out, ignore_errors=True)


def test_funnel_resume_commits_observed_counts(spark, tmp_path, monkeypatch):
    # the committed funnel-lineage rows carry the counts the checkpoint
    # pass observed, with no count job of their own
    from kgx.plans.curation_pipeline import read_stage_lineage

    rows = [(1, GOOD), (2, GOOD), (3, GOOD2), (5, PII_DOC)]
    documents = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(type(documents), "count", _no_count)
    run(spark, documents, _resume_cfg(str(tmp_path)))
    committed = {
        stage: (r["metric"], r["n_docs"], r["n_pii"])
        for stage, r in read_stage_lineage(spark, str(tmp_path)).items()
    }
    assert committed == {
        "quality": ("after_quality", 4, 0),
        "exact_dedup": ("after_exact_dedup", 3, 0),
        "near_dup": ("after_near_dup", 3, 0),
        "pii": ("after_pii", 3, 3),
    }


def test_funnel_resume_mid_death_converges_to_clean_run(spark):
    import shutil as _sh
    import tempfile as _tf

    rows = [(1, GOOD), (2, GOOD), (3, GOOD2), (5, PII_DOC)]
    documents = spark.createDataFrame(rows, "doc_id long, text string")
    out_clean = _tf.mkdtemp(prefix="kgx_cur_clean_")
    out_resume = _tf.mkdtemp(prefix="kgx_cur_mid_")
    try:
        m_clean = run(spark, documents, _resume_cfg(out_clean))

        # simulate death after near_dup: commit a full run, then erase the
        # pii snapshot+lineage so the restart replays from the near_dup one
        run(spark, documents, _resume_cfg(out_resume))
        import duckdb as _dd

        from kgx.plans.curation_pipeline import (
            _stage_lineage_path,
            _stage_snapshot_path,
        )

        _sh.rmtree(_stage_snapshot_path(out_resume, "pii"))
        lin_dir = _stage_lineage_path(out_resume)
        kept = _dd.sql(
            f"SELECT * FROM '{lin_dir}/*.parquet' WHERE stage <> 'pii'"
        ).df()
        _sh.rmtree(lin_dir)
        import os as _os

        _os.makedirs(lin_dir)
        _dd.sql("SELECT * FROM kept").write_parquet(lin_dir + "/part-0.parquet")

        m2 = run(spark, documents, _resume_cfg(out_resume))
        assert m2 == m_clean
        a = {tuple(r) for r in spark.read.parquet(out_clean + "/curated").collect()}
        b = {tuple(r) for r in spark.read.parquet(out_resume + "/curated").collect()}
        assert a == b
    finally:
        _sh.rmtree(out_clean, ignore_errors=True)
        _sh.rmtree(out_resume, ignore_errors=True)
