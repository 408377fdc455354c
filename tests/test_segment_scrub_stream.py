"""Streaming keep-first segment scrub: with doc_id-ordered waves the
stream must reproduce the batch operator bit-for-bit (earlier-batch
fingerprints + the within-batch struct-min rule compose to the global
keep-first), replays must be no-ops, and uncommitted batch dirs must
be invisible (the Bloom stream's crash-window discipline)."""

from __future__ import annotations

import pytest as _pytest_tier

# slow tier: e2e streaming / stateful-store / property tests (round-8
# verdict item 8). Default runs exclude these via pytest.ini addopts;
# run the full suite with:  python -m pytest tests/ -q -m ''
pytestmark = _pytest_tier.mark.slow

from pyspark.sql import functions as F

from flink_application_spark.operators.dedup import segment_dedup_scrub
from flink_application_spark.streaming.segment_scrub import SegmentScrubStream

_SEG = 4  # small segments so the fixture plants real cross-wave dups


def _corpus(spark):
    dup_run = "alpha beta gamma delta"  # one full segment, planted 3x
    rows = [
        (0, f"{dup_run} one two three four"),
        (1, "pack my box with five dozen jugs jaq"),
        # wave 2: doc 2 repeats doc 0's first segment + fresh tail
        (2, f"{dup_run} echo foxtrot golf hotel"),
        (3, "sphinx of black quartz judge my vow now"),
        # wave 3: doc 4 is ENTIRELY segments seen before
        (4, f"{dup_run} one two three four"),
        (5, "how vexingly quick daft zebras jump here"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def _by_id(df):
    return {
        r["doc_id"]: (r["n_segs"], r["n_dropped"], r["scrubbed_text"])
        for r in df.collect()
    }


def test_stream_equals_batch_on_ordered_waves(spark, tmp_path):
    docs = _corpus(spark)
    st = SegmentScrubStream(str(tmp_path / "scrub"), seg=_SEG)
    st.process_batch(docs.filter(F.col("doc_id") < 2), 0)
    st.process_batch(docs.filter((F.col("doc_id") >= 2) & (F.col("doc_id") < 4)), 1)
    st.process_batch(docs.filter(F.col("doc_id") >= 4), 2)

    got = _by_id(st.scrubbed(spark))
    want = _by_id(segment_dedup_scrub(docs, seg=_SEG))
    assert got == want
    # the planted duplicates actually dropped
    assert got[2][1] >= 1  # doc 2 lost the repeated leading segment
    assert got[4][2] == ""  # doc 4 was entirely duplicate segments
    assert got[0][1] == 0  # first occurrence untouched
    # one output row per doc — no fan-out through the stores
    assert st.scrubbed(spark).count() == len(want)


def test_replay_is_noop(spark, tmp_path):
    docs = _corpus(spark)
    st = SegmentScrubStream(str(tmp_path / "scrub"), seg=_SEG)
    st.process_batch(docs.filter(F.col("doc_id") < 2), 0)
    st.process_batch(docs.filter((F.col("doc_id") >= 2) & (F.col("doc_id") < 4)), 1)
    before = _by_id(st.scrubbed(spark))
    # a checkpoint replay re-runs batch 1: it must not meet its own
    # fingerprints (which would drop every one of its segments)
    st.process_batch(docs.filter((F.col("doc_id") >= 2) & (F.col("doc_id") < 4)), 1)
    assert _by_id(st.scrubbed(spark)) == before
    st.process_batch(docs.filter(F.col("doc_id") >= 4), 2)
    assert _by_id(st.scrubbed(spark)) == _by_id(segment_dedup_scrub(docs, seg=_SEG))


def test_uncommitted_batch_dir_is_invisible(spark, tmp_path):
    import os

    docs = _corpus(spark)
    st = SegmentScrubStream(str(tmp_path / "scrub"), seg=_SEG)
    st.process_batch(docs.filter(F.col("doc_id") < 2), 0)
    n0 = st.scrubbed(spark).count()
    st.process_batch(docs.filter((F.col("doc_id") >= 2) & (F.col("doc_id") < 4)), 1)
    for root in (st._docs_dir, st._fp_dir):
        os.remove(os.path.join(root, "_batch=1", "_SUCCESS"))
    assert st.scrubbed(spark).count() == n0
    # replay after the "crash" overwrites the partial dir and converges
    st.process_batch(docs.filter((F.col("doc_id") >= 2) & (F.col("doc_id") < 4)), 1)
    st.process_batch(docs.filter(F.col("doc_id") >= 4), 2)
    assert _by_id(st.scrubbed(spark)) == _by_id(segment_dedup_scrub(docs, seg=_SEG))


def test_fingerprint_store_bounded_by_distinct_segments(spark, tmp_path):
    """The fingerprint store must hold one row per DISTINCT segment,
    not per (batch, segment): a boilerplate hash recurring in every
    micro-batch is anti-joined away at write time, or store size and
    the membership probe grow with stream length (round-5 review)."""
    docs = _corpus(spark)
    st = SegmentScrubStream(str(tmp_path / "scrub"), seg=_SEG)
    st.process_batch(docs.filter(F.col("doc_id") < 2), 0)
    st.process_batch(docs.filter((F.col("doc_id") >= 2) & (F.col("doc_id") < 4)), 1)
    st.process_batch(docs.filter(F.col("doc_id") >= 4), 2)

    from flink_application_spark.operators.dedup import segment_rows
    from flink_application_spark.streaming.sinks import read_committed

    n_distinct = segment_rows(docs, _SEG).select("h").distinct().count()
    stored = read_committed(spark, st._fp_dir)
    assert stored.count() == n_distinct
    assert stored.select("h").distinct().count() == n_distinct
    # no hash is stored by more than one batch (the anti-join at work);
    # doc 4 (batch 2) re-sends only seen segments and stores none of them
    assert stored.groupBy("h").count().filter(F.col("count") > 1).count() == 0


def test_attached_file_stream_matches_batch(spark, tmp_path):
    import time

    from flink_application_spark.sources.streams import file_stream

    docs = _corpus(spark)
    src = tmp_path / "src"
    src.mkdir()
    for i, lo, hi in ((0, 0, 2), (1, 2, 4), (2, 4, 6)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.parquet(str(src / f"wave{i}"))
        time.sleep(1.2)  # modTime-ordered micro-batches (see verify notes)
    stream = file_stream(
        spark, str(src / "wave*"), schema_ddl="doc_id long, text string"
    )
    st = SegmentScrubStream(str(tmp_path / "scrub"), seg=_SEG)
    q = st.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = _by_id(st.scrubbed(spark))
    want = _by_id(segment_dedup_scrub(docs, seg=_SEG))
    # file streams may group waves into fewer micro-batches; keep-first
    # by arrival still equals the batch result because waves are
    # doc_id-ordered either way
    assert got == want
