"""Property-based checks (hypothesis) for the round-3 n-gram operator:
inverted-index exact Jaccard vs a pure-Python brute force. The
reference has no randomized testing at all (SURVEY §5); this pins the
operator's algebra on corpora the fixtures would never enumerate."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]

doc_strategy = st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(
    " ".join
)
corpus_strategy = st.lists(doc_strategy, min_size=2, max_size=8)


def _shingles(text: str, n: int = 3) -> frozenset:
    toks = text.strip().lower().split()
    if not toks:
        return frozenset()
    if len(toks) < n:
        return frozenset({" ".join(toks)})
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(corpus_strategy, st.sampled_from([0.2, 0.5, 0.8]))
def test_ngram_pairs_match_bruteforce(spark, corpus, threshold):
    from bigdata_spark.dedup.ngram import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(df, threshold=threshold).collect()
    }
    want = {}
    sh = [_shingles(t) for t in corpus]
    for a in range(len(corpus)):
        for b in range(a + 1, len(corpus)):
            union = len(sh[a] | sh[b])
            jac = len(sh[a] & sh[b]) / union if union else 0.0
            if jac >= threshold and len(sh[a] & sh[b]) > 0:
                want[(a, b)] = round(jac, 9)
    assert got == want
