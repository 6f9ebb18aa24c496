"""ANN search + multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from kgx.operators import media, similarity, spans as spans_op
from kgx.sources import corpus, docs as docs_src


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_cosine_topk_shape_and_bounds(spark, emb):
    top = similarity.cosine_topk(emb, n_queries=4, k=5).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r["query_id"], []).append(r)
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
        assert r["vec_id"] != r["query_id"]
    assert set(by_q) == {0, 1, 2, 3}
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3, 4, 5]
        cosines = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_recall_vs_bruteforce(spark, emb):
    exact = similarity.cosine_topk(emb, n_queries=8, k=5)
    approx = similarity.ivf_topk(emb, n_queries=8, k=5, n_centroids=16, nprobe=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5  # nprobe=8 of 16 cells — expect well above half
    # every cell assignment covers every vector exactly once
    cells = similarity.assign_cells(emb, n_centroids=16)
    assert cells.count() == emb.count()
    assert cells.groupBy("vec_id").count().where("count > 1").count() == 0


def test_near_dup_pairs_no_cartesian_and_recall(spark, emb):
    """The cell-bucketed near-dup join must (a) never plan a cartesian
    product over the vector set, (b) recover >= 0.9 of true high-cosine
    near-duplicate pairs (planted by perturbing existing vectors), and
    (c) emit only pairs the exact variant also emits (precision 1.0 —
    candidates are verified with the exact cosine)."""
    import pandas as pd

    # plant near-duplicates: copies of vectors 20..29 with one coordinate
    # nudged — cosine vs the original stays ~0.999
    base_rows = emb.where(F.col("vec_id").between(20, 29)).collect()
    planted = pd.DataFrame(
        {
            "vec_id": [1000 + r["vec_id"] for r in base_rows],
            "embedding": [
                [v + (0.01 if i == 0 else 0.0) for i, v in enumerate(r["embedding"])]
                for r in base_rows
            ],
            "label": [r["label"] for r in base_rows],
        }
    )
    both = emb.unionByName(spark.createDataFrame(planted))

    bucketed = similarity.embedding_near_dup_pairs(both, min_cosine=0.9)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = {(r["vec_a"], r["vec_b"]) for r in bucketed.collect()}

    exact = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_near_dup_pairs_exact(both, min_cosine=0.9).collect()
    }
    plantedpairs = {(r["vec_id"], 1000 + r["vec_id"]) for r in base_rows}
    assert plantedpairs <= exact
    recall = len(got & plantedpairs) / len(plantedpairs)
    assert recall >= 0.9, recall
    assert got <= exact  # verification step ⇒ no false positives


def _synth_emb(spark, n, dim=8):
    """Deterministic scattered vectors (no RNG — replayable)."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(n),
                "embedding": [
                    [((i * 31 + d * 17) % 101 - 50) / 50.0 for d in range(dim)]
                    for i in range(n)
                ],
            }
        )
    )


def test_auto_sizing_keeps_candidate_pairs_linear(spark):
    """The k ∝ N contract: with ``target_cell_size`` fixed, the candidate
    set of the cell-bucketed near-dup join must grow ~LINEARLY with corpus
    size (cells stay ~target-sized, so same-cell pair enumeration is
    O(N · cell)).  A fixed k would grow candidates ~quadratically (16× for
    a 4× corpus).  min_cosine=-1 disables the verify floor so the output IS
    the candidate set."""
    small, large = _synth_emb(spark, 400), _synth_emb(spark, 1600)
    assert similarity.auto_centroids(small, 50) == 8
    assert similarity.auto_centroids(large, 50) == 32

    n_small = similarity.embedding_near_dup_pairs(
        small, min_cosine=-1.0, target_cell_size=50
    ).count()
    n_large = similarity.embedding_near_dup_pairs(
        large, min_cosine=-1.0, target_cell_size=50
    ).count()
    ratio = n_large / n_small
    assert ratio < 8.0, (n_small, n_large, ratio)  # ~4 linear vs 16 quadratic

    # fixed k shows the quadratic blowup the auto-sizing prevents
    n_large_fixed = similarity.embedding_near_dup_pairs(
        large, min_cosine=-1.0, n_centroids=8
    ).count()
    assert n_large_fixed / n_small > ratio, (n_large_fixed, n_large)


def test_cell_count_takes_one_sizing(spark):
    """``n_centroids`` and ``target_cell_size`` are alternatives: every IVF
    entry point rejects both at once instead of ignoring one."""
    emb = _synth_emb(spark, 40)
    for op in (similarity.assign_cells, similarity.ivf_topk,
               similarity.embedding_near_dup_pairs):
        with pytest.raises(ValueError, match="not both"):
            op(emb, n_centroids=4, target_cell_size=10)


def test_media_inventory_and_decode_stub(spark, sf_dir):
    sp = docs_src.spans_table(
        corpus.narrative_documents(docs_src.load_documents(spark, sf_dir))
    )
    inv = media.media_inventory(spans_op.explode_spans(sp))
    rows = inv.limit(50).collect()
    # extension cycle → all three media families present in the corpus
    assert {r["media_type"] for r in rows} == {"image", "video", "audio"}
    assert all(1 <= r["width"] <= 1920 and 1 <= r["height"] <= 1080 for r in rows)


def test_resize_media_aspect_fit_never_upscales():
    """Integer aspect-fit: wide clamps width, tall clamps height, small
    passes through; output dims never exceed the box or the input."""
    assert media._aspect_fit(1920, 1080, 64, 64) == (64, 36)  # wide: 1080*64//1920
    assert media._aspect_fit(100, 800, 64, 64) == (8, 64)  # tall: 100*64//800
    assert media._aspect_fit(30, 20, 64, 64) == (30, 20)  # already fits: untouched
    assert media._aspect_fit(64, 64, 64, 64) == (64, 64)  # exact box


def test_media_caption_pairs_nearest_text(spark):
    """Media at doc start has only next_text; at doc end only prev_text;
    empty text spans are never captions; adjacent media share neighbors."""
    import pandas as pd

    from kgx.operators.media import media_caption_pairs

    flat = spark.createDataFrame(
        pd.DataFrame(
            [
                # doc A: media first, then text, media, empty text, media
                ("A", 0, "media", "", "m0"),
                ("A", 1, "text", "a cat photo", ""),
                ("A", 2, "media", "", "m1"),
                ("A", 3, "text", "", ""),
                ("A", 4, "media", "", "m2"),
                # doc B: text only — no output rows
                ("B", 0, "text", "hello", ""),
            ],
            columns=["doc_id", "span_pos", "kind", "text", "media_ref"],
        )
    )
    rows = {r.media_ref: r for r in media_caption_pairs(flat).collect()}
    assert set(rows) == {"m0", "m1", "m2"}
    assert rows["m0"].prev_text is None
    assert rows["m0"].next_text == "a cat photo"
    assert rows["m0"].caption == "a cat photo"
    assert rows["m1"].prev_text == "a cat photo"
    assert rows["m1"].caption == "a cat photo"   # prefer-previous
    assert rows["m2"].prev_text == "a cat photo"  # empty text span skipped
    assert rows["m2"].next_text is None


def test_ivf_recall_operator_consistency(spark, emb):
    """The ivf_recall table must agree with computing the overlap from
    the two top-k operators directly, and full probe => 10000 bp for
    every query (candidate sets identical, same cosine ranking)."""
    rec = {r.query_id: (r.n_exact, r.hits, r.recall_bp)
           for r in similarity.ivf_recall(
               emb, n_queries=6, k=5, n_centroids=16, nprobe=4).collect()}
    exact = similarity.cosine_topk(emb, n_queries=6, k=5).collect()
    approx = similarity.ivf_topk(
        emb, n_queries=6, k=5, n_centroids=16, nprobe=4).collect()
    e, a = {}, set()
    for r in exact:
        e.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        a.add((r.query_id, r.vec_id))
    for q, es in e.items():
        hits = sum(1 for v in es if (q, v) in a)
        assert rec[q] == (len(es), hits, (10000 * hits) // len(es))
    full = similarity.ivf_recall(
        emb, n_queries=6, k=5, n_centroids=16, nprobe=16).collect()
    assert all(r.recall_bp == 10000 for r in full)
    assert all(0 <= bp <= 10000 for (_, _, bp) in rec.values())
