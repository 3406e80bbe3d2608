"""Curation operators: packing edge cases, sampling determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.curation import pack_sequences


def _pack(spark, rows, budget):
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    return {
        r["doc_id"]: r["bin_id"]
        for r in pack_sequences(df, budget=budget).collect()
    }


def test_pack_greedy_first_fit(spark):
    rows = [(1, "a", 50), (2, "a", 60), (3, "a", 30), (4, "a", 10)]
    # budget 100: [50], +60 overflows -> bin1 [60, 30, 10 = 100 exact]
    assert _pack(spark, rows, 100) == {1: 0, 2: 1, 3: 1, 4: 1}


def test_pack_oversized_doc_own_bin(spark):
    rows = [(1, "a", 10), (2, "a", 500), (3, "a", 10)]
    got = _pack(spark, rows, 100)
    assert got == {1: 0, 2: 1, 3: 2}


def test_pack_groups_independent(spark):
    rows = [(1, "a", 90), (2, "a", 90), (10, "b", 90), (11, "b", 5)]
    got = _pack(spark, rows, 100)
    assert got == {1: 0, 2: 1, 10: 0, 11: 0}


def test_pack_state_spans_arrow_batches(spark):
    """One group larger than maxRecordsPerBatch (10k in the engine
    session): the (bin, fill) state must carry across batches — bin ids
    stay monotone with no reset."""
    n = 25000
    rows = [(i, "a", 40) for i in range(n)]  # 3 docs per 128-token bin
    got = _pack(spark, rows, 128)
    assert got[0] == 0
    assert got[n - 1] == (n - 1) // 3
    assert all(got[i] == i // 3 for i in range(0, n, 997))


try:
    from hypothesis import given, settings, strategies as st

    _docs = st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(1, 200)),
        min_size=1,
        max_size=40,
    )

    @given(docs=_docs)
    @settings(max_examples=10, deadline=None)
    def test_pack_property_matches_python(spark, docs):
        rows = [(i, g, n) for i, (g, n) in enumerate(docs)]
        got = _pack(spark, rows, 100)
        # independent python greedy per group, in doc_id order
        state = {}
        want = {}
        for i, g, n in rows:
            bin_id, fill = state.get(g, (0, 0))
            if fill > 0 and fill + n > 100:
                bin_id, fill = bin_id + 1, 0
            state[g] = (bin_id, fill + n)
            want[i] = bin_id
        assert got == want
except ImportError:  # pragma: no cover
    pass


def test_sample_deterministic_and_stratified(spark):
    from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf_dir = "/root/testdata/sf0.001"
    b = REGISTRY["q56_stratified_sample"].builder
    a = sorted(map(tuple, b(spark, sf_dir).collect()))
    bb = sorted(map(tuple, b(spark, sf_dir).collect()))
    assert a == bb and len(a) > 0
    assert all(h < 128 for *_, h in a)


# Adversarial token streams the generated corpus never holds: NULL, '',
# one and two tokens, leading/trailing/double spaces (empty tokens),
# multibyte and combining characters, and one 5,000-token document.
_ADVERSARIAL = [
    (1, None),
    (2, ""),
    (3, "solo"),
    (4, "a b"),
    (5, " lead"),
    (6, "trail "),
    (7, "a  b"),
    (8, "  "),
    (9, "x  x  x"),
    (10, "日本 語 日本 語 日本"),
    (11, "cafe\u0301 cafe\u0301 café 😀 😀 😀"),
    (12, " ".join(f"w{i % 37}" for i in range(5000))),
    (13, "a b c a b c a b c d"),
]


def _py_signals(text):
    """q122's three signals computed in plain Python over
    ``text.split(" ")``."""
    from collections import Counter

    t = text.split(" ")
    big = [" ".join(t[i : i + 2]) for i in range(len(t) - 1)]
    tri = [" ".join(t[i : i + 3]) for i in range(len(t) - 2)]
    top = max(Counter(big).values(), default=0)
    return (
        top * 1_000_000 // len(big) if big else 0,
        (len(tri) - len(set(tri))) * 1_000_000 // len(tri) if tri else 0,
        len(set(t)) * 1_000_000 // len(t),
    )


class TestNgramRule:
    """functions/ngrams against plain Python slicing of
    ``text.split(" ")`` on adversarial inputs."""

    def _df(self, spark):
        return spark.createDataFrame(_ADVERSARIAL, "doc_id long, text string")

    def test_ngrams_match_python_slices(self, spark):
        from etl_pipeline_candy_store_spark.functions.ngrams import ngrams

        t = F.split("text", " ")
        rows = (
            self._df(spark)
            .select("doc_id", *(ngrams(t, n).alias(f"g{n}") for n in (1, 2, 3)))
            .collect()
        )
        texts = dict(_ADVERSARIAL)
        assert len(rows) == len(_ADVERSARIAL)
        for r in rows:
            text = texts[r["doc_id"]]
            for n in (1, 2, 3):
                want = None
                if text is not None:
                    toks = text.split(" ")
                    want = [
                        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                    ]
                assert r[f"g{n}"] == want, (r["doc_id"], n)

    def test_pairs_match_python_offsets(self, spark):
        from etl_pipeline_candy_store_spark.functions.ngrams import shifted

        t = F.split("text", " ")
        rows = (
            self._df(spark)
            .select("doc_id", *(shifted(t, a=0, b=d).alias(f"p{d}") for d in (1, 2)))
            .collect()
        )
        texts = dict(_ADVERSARIAL)
        for r in rows:
            text = texts[r["doc_id"]]
            for d in (1, 2):
                got = r[f"p{d}"]
                if text is None:
                    assert got is None
                    continue
                toks = text.split(" ")
                want = [(toks[i], toks[i + d]) for i in range(len(toks) - d)]
                assert [(p["a"], p["b"]) for p in got] == want, (r["doc_id"], d)


class TestRepetitionSignalsEdges:
    """q122's gram-size edge cases: the synthetic corpus has no 1-2
    token docs, but a real crawl does — the NULLIF/COALESCE zero paths
    and the exact fractions are pinned here against hand computation."""

    def _run(self, spark, rows):
        from etl_pipeline_candy_store_spark.operators.text import (
            repetition_signals,
        )

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: (
                r["top_bigram_frac_micros"],
                r["dup_trigram_frac_micros"],
                r["unique_token_ratio_micros"],
            )
            for r in repetition_signals(df).collect()
        }

    def test_single_token_doc_zeroes_gram_signals(self, spark):
        got = self._run(spark, [(1, "hello")])
        # no bigrams/trigrams exist -> 0; one distinct of one token -> 1.0
        assert got[1] == (0, 0, 1_000_000)

    def test_two_token_doc_has_bigram_but_no_trigram(self, spark):
        got = self._run(spark, [(2, "a b")])
        # one bigram occurring once -> top share 1.0; no trigrams -> 0
        assert got[2] == (1_000_000, 0, 1_000_000)

    def test_pathological_repetition_maxes_signals(self, spark):
        got = self._run(spark, [(3, "spam spam spam spam")])
        # 3 identical bigrams -> 1.0; 2 trigrams, 1 distinct -> dup 0.5;
        # 1 distinct of 4 tokens -> 0.25
        assert got[3] == (1_000_000, 500_000, 250_000)

    def test_no_repetition_floors_signals(self, spark):
        got = self._run(spark, [(4, "a b c d")])
        # all grams distinct: top bigram 1/3, dup trigrams 0, unique 1.0
        assert got[4] == (333_333, 0, 1_000_000)

    def test_adversarial_inputs_match_python(self, spark):
        got = self._run(spark, _ADVERSARIAL)
        want = {i: _py_signals(text) for i, text in _ADVERSARIAL if text is not None}
        assert got == want
