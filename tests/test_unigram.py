"""Unigram-LM tokenizer (corpus_unigram_*): hard-EM monotonicity,
determinism, learned compression on a planted corpus, Viterbi
tie-breaking, and contract sensitivity to a corrupted segmentation."""

from __future__ import annotations

import math

from claim_analysis_engine_spark import artifacts
from claim_analysis_engine_spark.operators.pipeline_ops import (
    UNI_ITERS,
    _uni_viterbi,
    _unigram_model,
    corpus_unigram_contract,
    corpus_unigram_encode,
)
from tests.conftest import SF_ORACLE


def test_unigram_objective_monotone_and_deterministic(spark):
    seg1, hist1, vocab1 = _unigram_model(spark, SF_ORACLE)
    assert len(hist1) == UNI_ITERS
    assert all(b >= a - 1e-9 * abs(a) for a, b in zip(hist1, hist1[1:]))
    artifacts.clear()  # force a real retrain
    seg2, hist2, vocab2 = _unigram_model(spark, SF_ORACLE)
    assert artifacts.stats()["unigram"] == {"hits": 0, "misses": 1}
    assert seg1 == seg2 and hist1 == hist2 and vocab1 == vocab2


def test_unigram_reconstruction_and_pruning(spark):
    seg, _hist, vocab = _unigram_model(spark, SF_ORACLE)
    for w, toks in seg.items():
        assert "".join(toks) == w
        assert all(t in vocab for t in toks)  # vocab is exactly the used set


def test_unigram_learns_multichar_tokens_on_planted_repetition(
    spark, tmp_path
):
    # 'tata' dominates the corpus: the seed inventory must surface a
    # multi-char token covering it and Viterbi must use it (fewer
    # tokens than chars)
    rows = [
        (i, " ".join(["tata"] * 10 + [f"u{i}"]), "en", "t", 60)
        for i in range(6)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    seg, _hist, _vocab = _unigram_model(spark, str(tmp_path))
    assert len(seg["tata"]) < 4  # beat char-level on the planted word
    enc = {
        r["doc_id"]: r
        for r in corpus_unigram_encode(spark, str(tmp_path)).collect()
    }
    assert all(r["saving_bp"] > 0 for r in enc.values())


def test_viterbi_tie_breaks_to_longer_token():
    logp = {"a": math.log(0.25), "aa": math.log(0.0625)}
    # P(aa) == P(a)^2 exactly -> tie; the long->short scan must pick 'aa'
    toks, _ = _uni_viterbi("aa", logp)
    assert toks == ["aa"]


def test_contract_booleans_flip_on_corrupted_segmentation(
    spark, monkeypatch
):
    seg, hist, vocab = _unigram_model(spark, SF_ORACLE)
    bad = dict(seg)
    first = next(iter(sorted(bad)))
    bad[first] = ["@corrupt@"]  # decode no longer reassembles the word
    import claim_analysis_engine_spark.operators.pipeline_ops as po

    monkeypatch.setattr(
        po, "_unigram_model", lambda *_a, **_k: (bad, hist, vocab)
    )
    row = corpus_unigram_contract(spark, SF_ORACLE).first()
    assert not row["all_words_reconstruct"]
    assert not row["all_docs_reconstruct"]


def test_faceoff_flips_on_a_degraded_family(spark, monkeypatch):
    """The head-to-head capstone's sensitivity: degrade ONE family and
    the shared-hash booleans must flip. (a) a corrupted unigram
    segmentation flips unigram_reconstructs; (b) a char-level unigram
    model (every word split to single chars — zero compression) flips
    both_compress_min_bp AND savings_within_band while its round-trip
    still holds, proving the band watches compression, not just
    decode identity."""
    import claim_analysis_engine_spark.operators.pipeline_ops as po
    from claim_analysis_engine_spark.operators.pipeline_ops import (
        corpus_tokenizer_faceoff,
    )

    seg, hist, vocab = _unigram_model(spark, SF_ORACLE)

    bad = dict(seg)
    first = next(iter(sorted(bad)))
    bad[first] = ["@corrupt@"]
    monkeypatch.setattr(
        po, "_unigram_model", lambda *_a, **_k: (bad, hist, vocab)
    )
    row = corpus_tokenizer_faceoff(spark, SF_ORACLE).first()
    assert not row["unigram_reconstructs"]
    assert row["bpe_reconstructs"], "BPE side must be untouched"

    charlevel = {w: list(w) for w in seg}
    monkeypatch.setattr(
        po, "_unigram_model", lambda *_a, **_k: (charlevel, hist, vocab)
    )
    row = corpus_tokenizer_faceoff(spark, SF_ORACLE).first()
    assert row["unigram_reconstructs"], "char split still round-trips"
    assert not row["both_compress_min_bp"]
    assert not row["savings_within_band"]
