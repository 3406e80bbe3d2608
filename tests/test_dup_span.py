"""Constructed-input semantics tests for the duplicated-span profile
(q140, operators/dedup.py) and the token-budget mixture selector
(q141, operators/corpus_curation.py) — the catalog checks them against
DuckDB on the synthetic corpus; these pin the intended behavior on
inputs where the expected answer is computed by hand."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.plans import catalog


def _run(spark, name, docs_rows, tmp_path):
    """Run a registered documents-table query over constructed docs."""
    df = spark.createDataFrame(
        docs_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    catalog._ensure_loaded()
    return catalog.REGISTRY[name].builder(spark, str(tmp_path)).collect()


def test_dup_span_hand_computed(spark, tmp_path):
    rows = [
        (1, "a b c d e f", "en", "s1", 11),
        (2, "x y a b c d q", "en", "s1", 13),
        (3, "p q r s t u", "en", "s2", 11),
    ]
    out = {r["doc_id"]: r for r in _run(spark, "q140_dup_span_profile", rows, tmp_path)}
    # shared 4-token span "a b c d" = 3-shingle run of 2 in both docs
    assert out[1]["n_shingles"] == 4
    assert out[1]["n_dup_shingles"] == 2
    assert out[1]["max_dup_run"] == 2
    assert out[1]["max_dup_span_tokens"] == 4
    assert out[1]["long_dup"] is False
    assert out[2]["n_shingles"] == 5
    assert out[2]["max_dup_span_tokens"] == 4
    assert out[3]["n_dup_shingles"] == 0
    assert out[3]["max_dup_span_tokens"] == 0


def test_dup_span_short_doc_and_within_doc_repeat(spark, tmp_path):
    rows = [
        (1, "a b", "en", "s1", 3),  # < 3 tokens: zero shingles
        # "m n o" repeats within ONE doc only -> not a cross-doc dup
        (2, "m n o z m n o", "en", "s1", 13),
    ]
    out = {r["doc_id"]: r for r in _run(spark, "q140_dup_span_profile", rows, tmp_path)}
    assert out[1]["n_shingles"] == 0 and out[1]["max_dup_span_tokens"] == 0
    assert out[2]["n_dup_shingles"] == 0  # min_doc == max_doc for "m n o"


def test_token_budget_greedy_cutoff(spark, tmp_path):
    # source s1: lengths 500, 200(doc 2), 200(doc 3), 150 -> greedy
    # longest-first with doc_id tiebreak keeps 500+200+... until 800:
    # 500 (cum 500), doc2 200 (cum 700), doc3 200 would hit 900 -> cut,
    # 150 would hit 850 -> cut (greedy prefix, not knapsack)
    def doc(i, n, src):
        return (i, " ".join(f"t{i}x{j}" for j in range(n)), "en", src, n)

    rows = [doc(1, 500, "s1"), doc(2, 200, "s1"), doc(3, 200, "s1"),
            doc(4, 150, "s1"), doc(5, 100, "s2")]
    out = _run(spark, "q141_token_budget_mix", rows, tmp_path)
    kept = {r["doc_id"]: r["cum_toks"] for r in out}
    assert kept == {1: 500, 2: 700, 5: 100}


def test_token_budget_windows_are_bucket_partitioned(spark):
    # q141: the corpus-sized cumsum window must be partitioned by
    # (source, length bucket); only the per-bucket-totals window may be
    # source-wide (bucket-count rows per source)
    import io, contextlib

    catalog._ensure_loaded()
    df = catalog.REGISTRY["q141_token_budget_mix"].builder(
        spark, "/root/testdata/sf0.001"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # every window is source-partitioned (spec lists partition cols
    # first); an unpartitioned window would print its ORDER column
    # (n_toks) first instead
    assert "windowspecdefinition(source" in plan
    assert "windowspecdefinition(n_toks" not in plan


def test_canonical_by_pagerank_no_window(spark):
    # q142's Spark side is a single combinable max_by aggregate — the
    # oracle's ROW_NUMBER window must NOT leak into the Spark plan
    import io, contextlib

    catalog._ensure_loaded()
    df = catalog.REGISTRY["q142_canonical_by_pagerank"].builder(
        spark, "/root/testdata/sf0.001"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "windowspecdefinition" not in plan
    assert "max_by" in plan


def test_leakage_safe_split_keeps_pairs_together(spark):
    # the defining property: no near-dup pair straddles two splits
    from etl_pipeline_candy_store_spark.operators.corpus_curation import (
        q144_leakage_safe_split,
    )
    from etl_pipeline_candy_store_spark.operators.dedup import (
        q51_ngram_jaccard_pairs,
    )

    sf = "/root/testdata/sf0.001"
    split = q144_leakage_safe_split(spark, sf).select("doc_id", "split")
    pairs = q51_ngram_jaccard_pairs(spark, sf).select("doc_a", "doc_b")
    leaky = (
        pairs.join(
            split.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "split", "split_a"
            ),
            "doc_a",
        )
        .join(
            split.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "split", "split_b"
            ),
            "doc_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert leaky == 0
    assert pairs.count() > 0
    # and all three splits are actually populated
    assert split.select("split").distinct().count() == 3


def _py_dup_span(texts):
    """Brute-force reference for q140 on {doc_id: text}."""
    sh = {
        d: [" ".join(t[i : i + 3]) for i in range(len(t) - 2)]
        for d, t in ((d, txt.split(" ")) for d, txt in texts.items())
    }
    docs_of = {}
    for d, ss in sh.items():
        for s in ss:
            docs_of.setdefault(s, set()).add(d)
    out = {}
    for d, ss in sh.items():
        flags = [len(docs_of[s]) > 1 for s in ss]
        run = best = 0
        for f in flags:
            run = run + 1 if f else 0
            best = max(best, run)
        out[d] = (len(ss), sum(flags), best, best + 2 if best else 0)
    return out


def test_dup_span_matches_python_reference_random_docs(spark, tmp_path):
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> real cross-doc dups
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))),
         "en", "s", 1)
        for i in range(1, 31)
    ]
    got = {
        r["doc_id"]: (
            r["n_shingles"], r["n_dup_shingles"],
            r["max_dup_run"], r["max_dup_span_tokens"],
        )
        for r in _run(spark, "q140_dup_span_profile", rows, tmp_path)
    }
    assert got == _py_dup_span({i: t for i, t, *_ in rows})


def test_token_budget_matches_python_greedy_random(spark, tmp_path):
    import random

    rng = random.Random(5)
    rows, lens = [], {}
    for i in range(1, 41):
        n = rng.randint(50, 400)
        src = f"s{rng.randint(0, 3)}"
        rows.append((i, " ".join(f"t{i}x{j}" for j in range(n)), "en", src, n))
        lens[i] = (src, n)
    got = {r["doc_id"]: r["cum_toks"]
           for r in _run(spark, "q141_token_budget_mix", rows, tmp_path)}
    # python greedy: per source, longest-first (doc_id tiebreak), prefix
    want = {}
    by_src = {}
    for d, (s, n) in lens.items():
        by_src.setdefault(s, []).append((d, n))
    for s, ds in by_src.items():
        cum = 0
        for d, n in sorted(ds, key=lambda x: (-x[1], x[0])):
            cum += n
            if cum <= 800:
                want[d] = cum
            else:
                break
    assert got == want


def _py_scrub_pass(toks: dict[int, list[str]]):
    """One pure-Python span-scrub pass over {doc_id: tokens}."""
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, ts in toks.items():
        for i in range(len(ts) - 2):
            occ.setdefault(" ".join(ts[i : i + 3]), []).append((d, i))
    removed: dict[int, set[int]] = {d: set() for d in toks}
    for _, hits in occ.items():
        ds = {d for d, _ in hits}
        if len(ds) < 2:
            continue
        keeper = min(ds)
        for d, p in hits:
            if d != keeper:
                removed[d].update((p, p + 1, p + 2))
    out = {
        d: [t for i, t in enumerate(ts) if i not in removed[d]]
        for d, ts in toks.items()
    }
    return out, {d: len(s) for d, s in removed.items()}


def _py_scrub_fixpoint(texts: dict[int, str]):
    """Pure-Python fixpoint reference: iterate passes until none
    removes a token. Returns {doc_id: (n_tokens, n_removed,
    clean_text)} plus the number of removal passes."""
    cur = {d: t.split(" ") if t else [] for d, t in texts.items()}
    orig_n = {d: len(ts) for d, ts in cur.items()}
    total = {d: 0 for d in cur}
    passes = 0
    while True:
        cur, nrem = _py_scrub_pass(cur)
        if not any(nrem.values()):
            break
        passes += 1
        for d, n in nrem.items():
            total[d] += n
    return {
        d: (orig_n[d], total[d], " ".join(cur[d])) for d in cur
    }, passes


def test_span_scrub_fixpoint_chain_case(spark):
    """The constructed case where ONE pass provably != fixpoint: after
    doc 3 loses the 'A B C' span (canonical doc 1), tokens 'p' and
    'q r' become adjacent and form 'p q r' — a shingle no input version
    of doc 3 contained, duplicated with doc 2, so a SECOND pass empties
    doc 3 entirely."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        dup_span_scrub,
        dup_span_scrub_fixpoint,
    )

    docs = spark.createDataFrame(
        [(1, "A B C"), (2, "p q r"), (3, "p A B C q r")],
        "doc_id long, text string",
    )
    one = {
        r["doc_id"]: r["clean_text"]
        for r in dup_span_scrub(docs).collect()
    }
    assert one == {1: "A B C", 2: "p q r", 3: "p q r"}
    fix = {
        r["doc_id"]: (r["n_removed"], r["clean_text"], r["n_passes"])
        for r in dup_span_scrub_fixpoint(docs).collect()
    }
    assert fix == {
        1: (0, "A B C", 2),
        2: (0, "p q r", 2),
        3: (6, "", 2),
    }
    # one pass != fixpoint, by construction
    assert one[3] != fix[3][1]


def _random_texts() -> dict[int, str]:
    import random

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(10)]  # tiny vocab -> chained dups
    return {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20)))
        for i in range(1, 26)
    }


def _check_scrub_fixpoint(spark, texts: dict[int, str]) -> int:
    """Assert dup_span_scrub_fixpoint equals the pure-Python reference
    on ``texts`` and leaves no cross-doc duplicated 3-shingle; returns
    the reference's removal-pass count."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        dup_span_scrub_fixpoint,
    )

    want, want_passes = _py_scrub_fixpoint(texts)
    got_rows = dup_span_scrub_fixpoint(
        spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
    ).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in got_rows
    }
    assert got == want
    assert {r["n_passes"] for r in got_rows} == {want_passes}
    # closure property: NO cross-doc duplicated 3-shingle survives
    occ: dict[str, set[int]] = {}
    for d, (_, _, clean) in got.items():
        ts = clean.split(" ") if clean else []
        for i in range(len(ts) - 2):
            occ.setdefault(" ".join(ts[i : i + 3]), set()).add(d)
    assert all(len(ds) == 1 for ds in occ.values())
    # non-vacuous: every input here removes tokens
    assert any(n for (_, n, _) in want.values())
    return want_passes


def test_span_scrub_fixpoint_matches_python_reference(spark):
    # the tiny vocab really forces multi-pass removal
    assert _check_scrub_fixpoint(spark, _random_texts()) >= 2
    # irregular whitespace: "x y z " keeps an empty last token, which
    # is all that survives of doc 2 (3 of 4 tokens removed); in
    # "a  b c" the empty token sits inside both shingles
    _check_scrub_fixpoint(spark, {1: "x y z", 2: "x y z "})
    _check_scrub_fixpoint(spark, {3: "a  b c", 4: "a  b c d"})
    assert _py_scrub_fixpoint({1: "x y z", 2: "x y z "})[0][2] == (4, 3, "")
    assert _py_scrub_fixpoint({3: "a  b c", 4: "a  b c d"})[0][4] == (5, 4, "d")


def test_span_scrub_fixpoint_max_iter_raises(spark):
    import pytest

    from etl_pipeline_candy_store_spark.operators.dedup import (
        dup_span_scrub_fixpoint,
    )

    docs = spark.createDataFrame(
        [(1, "A B C"), (2, "p q r"), (3, "p A B C q r")],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dup_span_scrub_fixpoint(docs, max_iter=1)


def test_q204_equals_python_3pass_on_corpus(spark):
    """The registered 3-pass unroll reproduces a pure-Python 3-pass
    composition position-for-position on the synthetic corpus (whose
    tiny vocab chains duplications deep enough that pass 2 and 3 each
    still remove tokens — the composition is non-vacuous there), and
    the fixpoint helper runs strictly deeper on the same corpus."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        dup_span_scrub_fixpoint,
    )
    from etl_pipeline_candy_store_spark.plans import catalog

    catalog._ensure_loaded()
    sf = "/root/testdata/sf0.001"
    texts = {
        r["doc_id"]: r["text"]
        for r in catalog.load(spark, sf, "documents").collect()
    }
    cur = {d: t.split(" ") if t else [] for d, t in texts.items()}
    total = {d: 0 for d in cur}
    pass_removed = []
    for _ in range(3):
        cur, nrem = _py_scrub_pass(cur)
        pass_removed.append(sum(nrem.values()))
        for d, n in nrem.items():
            total[d] += n
    want = {
        d: (len(texts[d].split(" ")), total[d], " ".join(cur[d]))
        for d in cur
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in catalog.REGISTRY["q204_dup_span_scrub_3pass"]
        .builder(spark, sf)
        .collect()
    }
    assert got == want
    # non-vacuous: every one of the three passes removed something
    assert all(n > 0 for n in pass_removed)
    # and TRUE closure on this corpus needs MORE than the 3-pass bound
    fix_rows = dup_span_scrub_fixpoint(
        catalog.load(spark, sf, "documents")
    ).collect()
    assert {r["n_passes"] for r in fix_rows} == {6}
    assert sum(r["n_removed"] for r in fix_rows) > sum(
        v[1] for v in got.values()
    )


def test_dup_span_scrub_matches_python(spark):
    """q203's removal set reproduces a pure-Python recomputation, and
    the keep-one-copy rule holds: for every duplicated shingle, its
    canonical (min-doc_id) occurrences keep their positions."""
    from etl_pipeline_candy_store_spark.plans import catalog

    catalog._ensure_loaded()
    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in catalog.load(spark, sf, "documents").collect()
    }
    # positional shingles + canonical keeper per shingle value
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, toks in docs.items():
        for i in range(len(toks) - 2):
            occ.setdefault(" ".join(toks[i : i + 3]), []).append((d, i + 1))
    removed: dict[int, set[int]] = {d: set() for d in docs}
    for sh, hits in occ.items():
        ds = {d for d, _ in hits}
        if len(ds) < 2:
            continue
        keeper = min(ds)
        for d, p in hits:
            if d != keeper:
                removed[d].update((p, p + 1, p + 2))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in catalog.REGISTRY["q203_dup_span_scrub"]
        .builder(spark, sf)
        .collect()
    }
    for d, toks in docs.items():
        want_clean = " ".join(
            t for i, t in enumerate(toks, start=1) if i not in removed[d]
        )
        assert got[d] == (len(toks), len(removed[d]), want_clean), d
    # non-vacuous: the corpus really contains cross-doc spans to scrub
    assert any(n for (_, n, _) in got.values())
