"""BatchStore.compact: merging old per-batch partitions of the streaming
lookup stores must PRESERVE dedup decisions (same cross-batch cuts, same
candidate pairs), keep the latest batch replay-idempotent, and actually
drop partition count. Age-out is the documented TTL trade: an aged-out
span's next sighting becomes a new canonical."""

from asf_tools_spark.streaming.near_dup import NearDupIndexer
from asf_tools_spark.streaming.substring import SubstringDedupIndexer

SPAN = "the quick brown fox jumps over the lazy dog again"  # 10 tokens


def _batch(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def _texts(spark, out_dir):
    return {
        r.url: r.text
        for r in spark.read.parquet(out_dir).select("url", "text").collect()
    }


def _run_three_batches(spark, store, out):
    idx = SubstringDedupIndexer(store, out, key="url", n=8)
    idx(_batch(spark, [("a0", f"batch zero holds {SPAN} first")]), 0)
    idx(_batch(spark, [("b0", "some totally unrelated words in batch one here")]), 1)
    idx(_batch(spark, [("c0", "more unrelated filler text for batch two now")]), 2)
    return idx


def test_compaction_preserves_cross_batch_cuts(spark, tmp_path):
    plain_store, plain_out = str(tmp_path / "ps"), str(tmp_path / "po")
    comp_store, comp_out = str(tmp_path / "cs"), str(tmp_path / "co")
    idx_plain = _run_three_batches(spark, plain_store, plain_out)
    idx_comp = _run_three_batches(spark, comp_store, comp_out)

    res = idx_comp.store.compact(keep_latest=1)
    assert res["merged"] == [0, 1] and res["target_batch"] == 1
    assert res["partitions_after"] < res["partitions_before"]

    # batch 3 re-serves the batch-0 span: the cut must be identical with
    # and without compaction
    late = [("d0", f"late page repeats {SPAN} verbatim")]
    idx_plain(_batch(spark, late), 3)
    idx_comp(_batch(spark, late), 3)
    assert _texts(spark, comp_out) == _texts(spark, plain_out)
    assert SPAN not in _texts(spark, comp_out)["d0"]


def test_latest_batch_replays_identically_after_compaction(spark, tmp_path):
    store, out = str(tmp_path / "s"), str(tmp_path / "o")
    idx = _run_three_batches(spark, store, out)
    before = _texts(spark, out)
    idx.store.compact(keep_latest=1)
    # checkpoint-recovery semantics: foreachBatch re-runs the LAST batch;
    # its store lookup (batch_id < 2) must not see its own grams restamped
    # into an older partition
    idx(_batch(spark, [("c0", "more unrelated filler text for batch two now")]), 2)
    assert _texts(spark, out) == before


def test_age_out_readmits_ancient_spans(spark, tmp_path):
    store, out = str(tmp_path / "s"), str(tmp_path / "o")
    idx = _run_three_batches(spark, store, out)
    res = idx.store.compact(keep_latest=1, age_out_below=1)
    assert res["aged_out"] == [0]
    # batch 0's span is gone from the store: its re-serving is a NEW
    # canonical (kept intact), the documented TTL trade
    idx(_batch(spark, [("d0", f"late page repeats {SPAN} verbatim")]), 3)
    assert SPAN in _texts(spark, out)["d0"]


def test_band_store_compaction_preserves_pairs(spark, tmp_path):
    plain_store, plain_pairs = str(tmp_path / "ps"), str(tmp_path / "pp")
    comp_store, comp_pairs = str(tmp_path / "cs"), str(tmp_path / "cp")
    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    rows0 = [("u0", text_a)]
    rows1 = [("u1", "completely different words live here now friends")]
    late = [("u9", text_a)]  # near-dup of the batch-0 doc
    for store, pairs in [(plain_store, plain_pairs), (comp_store, comp_pairs)]:
        idx = NearDupIndexer(store, pairs, key="url")
        idx(_batch(spark, rows0), 0)
        idx(_batch(spark, rows1), 1)
        idx(_batch(spark, [("u2", "yet more filler prose for batch two okay")]), 2)
        if store == comp_store:
            res = idx.store.compact(keep_latest=1)
            assert res["target_batch"] == 1
            assert res["partitions_after"] < res["partitions_before"]
        idx(_batch(spark, late), 3)

    def pairs_set(d):
        return {
            (r.key_a, r.key_b)
            for r in spark.read.parquet(d).select("key_a", "key_b").collect()
        }

    got = pairs_set(comp_pairs)
    assert got == pairs_set(plain_pairs)
    assert ("u0", "u9") in got  # the cross-batch pair survives compaction
