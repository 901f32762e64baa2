"""Regression tests for the fused-extract per-text memo (KeyError on
the bounded clear path, found in round-2 self-review)."""

from __future__ import annotations

from information_extraction_spark.kernels.extraction import KnowledgeBase


def _kb() -> KnowledgeBase:
    return KnowledgeBase([("p1", "alpha", "beta gamma")])


def test_memo_hits_return_identical_units():
    kb = _kb()
    texts = ["alpha and beta gamma here", "nothing relevant"] * 3
    first = kb.extract_batch(texts)
    second = kb.extract_batch(texts)
    assert first == second
    assert kb._extract_cache  # populated


def test_bounded_clear_never_drops_this_batchs_hits():
    """When the memo exceeds its bound, the clear must not evict
    entries the current batch already resolved from cache."""
    kb = _kb()
    cached_text = "alpha then beta gamma"
    expected = kb.extract_batch([cached_text])[0]
    for i in range(50_001):  # push past the 50k bound
        kb._extract_cache[(f"filler{i}", 10)] = []
    out = kb.extract_batch([cached_text, "new text alpha beta gamma x"])
    assert out[0] == expected
    # cache was cleared and repopulated with only the fresh compute
    assert len(kb._extract_cache) <= 2


def test_memo_keeps_each_thresholds_units():
    """One KB called at 0.5, then 0.3, then 0.5 on the same texts must
    return each threshold's own units, not the memo of another."""
    from information_extraction_spark.kernels.extraction import _pseudo_score

    entries = [
        ("p1", "alpha", "beta"),
        ("p2", "alpha", "zeta"),
        ("p2", "omega", "delta"),
    ]
    # p1 fires; p2 does not, but tags alpha/delta across its two pairs,
    # so it yields a unit exactly when its pseudo-score passes 0.3.
    text = next(
        t
        for t in (f"alpha beta delta {i}" for i in range(100))
        if _pseudo_score(t, "p2") > 0.3
    )
    texts = [text, "nothing relevant", text]
    kb = KnowledgeBase(entries)
    for threshold in (0.5, 0.3, 0.5):
        fresh = KnowledgeBase(entries).extract_batch(texts, threshold=threshold)
        assert kb.extract_batch(texts, threshold=threshold) == fresh
    assert [p for p, _, _ in kb.extract_batch([text], threshold=0.3)[0]] == [
        "p1",
        "p2",
    ]
    assert [p for p, _, _ in kb.extract_batch([text])[0]] == ["p1"]
