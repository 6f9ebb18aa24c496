"""Multimodal plumbing: media inventory, resize and caption pairing."""

from kgx.operators import media, spans as spans_op
from kgx.sources import corpus, docs as docs_src


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
