"""ST1 property tests (SURVEY §5.3-2): invariants, python-oracle parity,
cancellation-feedback divergence from the window approximation, and the
composite-key (daily reload) mode."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.allocation import (
    allocate_bucketed,
    allocate_python_oracle,
    allocate_sequential,
    allocate_windowed,
)


def _random_requests(seed: int, n: int = 400, n_keys: int = 6):
    rng = random.Random(seed)
    stocks = {k: rng.randint(5, 60) for k in range(1, n_keys + 1)}
    return [
        {
            "key": (k := rng.randint(1, n_keys)),
            "seq": i,
            "qty": rng.randint(1, 8),
            "stock": stocks[k],
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_matches_python_oracle(spark, seed):
    rows = _random_requests(seed)
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    got = {
        (r["key"], r["seq"]): (r["quantity"], r["cancelled"], r["stock_after"])
        for r in allocate_sequential(
            df, key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock"
        ).collect()
    }
    want = {
        (r["key"], r["seq"]): (r["quantity"], r["cancelled"], r["stock_after"])
        for r in allocate_python_oracle(rows, key="key", seq=["seq"], qty="qty", stock="stock")
    }
    assert got == want


def test_invariants(spark):
    rows = _random_requests(99, n=600)
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    out = allocate_sequential(
        df, key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock"
    )
    # stock never negative; conservation: opening - sum(fulfilled) == final
    per_key = out.groupBy("key", "stock").agg(
        F.sum("quantity").alias("fulfilled"),
        F.min("stock_after").alias("final"),
        F.min("stock_after").alias("min_after"),
    )
    for r in per_key.collect():
        assert r["min_after"] >= 0
        assert r["stock"] - r["fulfilled"] == r["final"]
    # cancelled lines fulfil nothing
    assert out.filter((F.col("cancelled") == 1) & (F.col("quantity") != 0)).count() == 0


def test_cancellation_feedback_diverges_from_window(spark):
    """The defining ST1 case (SURVEY §4.3): qty [5, 10, 4] stock 9 —
    sequential fulfils 5 then cancels 10 then FULFILS 4 (feedback frees
    nothing, later smaller request fits); the window model cancels both
    trailing lines."""
    rows = [
        {"key": 1, "seq": 1, "qty": 5, "stock": 9},
        {"key": 1, "seq": 2, "qty": 10, "stock": 9},
        {"key": 1, "seq": 3, "qty": 4, "stock": 9},
    ]
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    seq_out = {
        r["seq"]: r["quantity"]
        for r in allocate_sequential(
            df, key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock"
        ).collect()
    }
    win_out = {
        r["seq"]: r["quantity"]
        for r in allocate_windowed(
            df, key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock"
        ).collect()
    }
    assert seq_out == {1: 5, 2: 0, 3: 4}
    assert win_out == {1: 5, 2: 0, 3: 0}


def test_daily_reload_composite_key(spark):
    """ST3 implemented: keying by (key, day) resets stock each day."""
    rows = [
        {"key": 1, "day": 1, "seq": 1, "qty": 8, "stock": 10},
        {"key": 1, "day": 1, "seq": 2, "qty": 8, "stock": 10},  # cancelled
        {"key": 1, "day": 2, "seq": 3, "qty": 8, "stock": 10},  # fresh stock
    ]
    df = spark.createDataFrame(rows, "key int, day int, seq int, qty int, stock int")
    out = {
        r["seq"]: r["quantity"]
        for r in allocate_sequential(
            df, key_col=["key", "day"], seq_cols=["day", "seq"],
            qty_col="qty", stock_col="stock",
        ).collect()
    }
    assert out == {1: 8, 2: 0, 3: 8}


def test_cross_product_independence(spark):
    """Permuting rows of OTHER products never changes a product's
    allocation (the legality of per-key parallelism)."""
    rows = _random_requests(5, n=200, n_keys=4)
    df1 = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    shuffled = [rows[i] for i in random.Random(0).sample(range(len(rows)), len(rows))]
    df2 = spark.createDataFrame(shuffled, "key int, seq int, qty int, stock int")
    a = allocate_sequential(df1, key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    b = allocate_sequential(df2, key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


try:
    from hypothesis import given, settings, strategies as st

    _req = st.lists(
        st.tuples(
            st.integers(1, 4),    # key
            st.integers(1, 12),   # qty
        ),
        min_size=1,
        max_size=60,
    )

    @given(reqs=_req, stock=st.integers(0, 40))
    @settings(max_examples=12, deadline=None)
    def test_property_matches_oracle(spark, reqs, stock):
        rows = [
            {"key": k, "seq": i, "qty": q, "stock": stock}
            for i, (k, q) in enumerate(reqs)
        ]
        df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
        got = {
            (r["key"], r["seq"]): (r["quantity"], r["cancelled"], r["stock_after"])
            for r in allocate_sequential(
                df, key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock"
            ).collect()
        }
        want = {
            (r["key"], r["seq"]): (r["quantity"], r["cancelled"], r["stock_after"])
            for r in allocate_python_oracle(
                rows, key="key", seq=["seq"], qty="qty", stock="stock"
            )
        }
        assert got == want
except ImportError:  # pragma: no cover
    pass


@pytest.mark.parametrize("seed", [1, 7])
def test_bucketed_identical_to_sequential(spark, seed):
    """allocate_bucketed must be RESULT-IDENTICAL to allocate_sequential
    on mixed keys with plenty of cancellations (stock exhausts early, so
    the optimistic openings are wrong and the fixpoint must iterate)."""
    rng = random.Random(seed)
    rows = [
        {"key": k, "seq": i, "qty": rng.randint(1, 9), "stock": 40}
        for k in range(1, 4)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    kw = dict(key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    seq = {
        (r["key"], r["seq"]): (r["quantity"], r["cancelled"], r["stock_after"])
        for r in allocate_sequential(df, **kw).collect()
    }
    bkt = {
        (r["key"], r["seq"]): (r["quantity"], r["cancelled"], r["stock_after"])
        for r in allocate_bucketed(df, n_buckets=6, **kw).collect()
    }
    assert bkt == seq


def test_bucketed_identical_on_hot_key_fixture(spark):
    """Judge's done-criterion: identity to allocate_sequential on the
    hot-key fixture (one key, 30k rows, stock exhausts mid-stream)."""
    n = 30000
    rows = [{"key": 1, "seq": i, "qty": 1 + (i % 3), "stock": 30000} for i in range(n)]
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    kw = dict(key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    seq = {
        r["seq"]: (r["quantity"], r["cancelled"], r["stock_after"])
        for r in allocate_sequential(df, **kw).collect()
    }
    bkt = {
        r["seq"]: (r["quantity"], r["cancelled"], r["stock_after"])
        for r in allocate_bucketed(df, n_buckets=8, **kw).collect()
    }
    assert bkt == seq
    assert any(c == 1 for _, c, _s in bkt.values())  # cancellations crossed buckets


def test_bucketed_composite_key(spark):
    """Composite (key, day) reload keys bucket independently too."""
    rows = [
        {"key": 1, "day": d, "seq": s, "qty": 8, "stock": 10}
        for d in (1, 2)
        for s in range(4)
    ]
    df = spark.createDataFrame(rows, "key int, day int, seq int, qty int, stock int")
    kw = dict(key_col=["key", "day"], seq_cols=["day", "seq"],
              qty_col="qty", stock_col="stock")
    seq = sorted(map(tuple, allocate_sequential(df, **kw).collect()))
    bkt = sorted(map(tuple, allocate_bucketed(df, n_buckets=3, **kw).collect()))
    assert bkt == seq


def test_hot_key_spans_arrow_batches(spark):
    """A single key with more rows than maxRecordsPerBatch (10k in the
    engine session) spans multiple Arrow batches inside one partition —
    the cross-batch remaining-stock carry must stay exact. 30k rows ->
    >= 3 batches; stock sized to exhaust mid-stream."""
    n = 30000
    rows = [{"key": 1, "seq": i, "qty": 1 + (i % 3), "stock": 30000} for i in range(n)]
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    out = allocate_sequential(
        df, key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock"
    ).collect()
    want = {
        r["seq"]: (r["quantity"], r["stock_after"])
        for r in allocate_python_oracle(rows, key="key", seq=["seq"], qty="qty", stock="stock")
    }
    got = {r["seq"]: (r["quantity"], r["stock_after"]) for r in out}
    assert got == want
    # the stream exhausted (so cancellations crossed a batch boundary)
    assert any(q == 0 for q, _ in got.values())
    assert min(s for _, s in got.values()) >= 0


def test_auto_dispatch_identity_both_shapes(spark):
    """allocate() must produce results identical to allocate_sequential
    on BOTH sides of the dispatch: a hot-key shape forced over the
    threshold (picks the bucketed escape) and an ordinary-skew shape
    under it (picks the plain operator)."""
    from etl_pipeline_candy_store_spark.operators.allocation import allocate

    kw = dict(key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    # hot shape: one key holds 5k rows, exhausting mid-stream
    hot = [{"key": 1, "seq": i, "qty": 1 + (i % 3), "stock": 5000} for i in range(5000)]
    hot += [{"key": 2, "seq": i, "qty": 1, "stock": 100} for i in range(50)]
    dfh = spark.createDataFrame(hot, "key int, seq int, qty int, stock int")
    want = sorted(map(tuple, allocate_sequential(dfh, **kw).collect()))
    got = sorted(
        map(
            tuple,
            allocate(
                dfh,
                hot_row_threshold=1000,
                exhaust_hot_row_threshold=1000,
                n_buckets=4,
                **kw,
            ).collect(),
        )
    )
    assert got == want
    # cold shape: same data, threshold far above any key -> sequential path
    got2 = sorted(
        map(tuple, allocate(dfh, hot_row_threshold=10**9, **kw).collect())
    )
    assert got2 == want


def test_auto_dispatch_picks_expected_strategy(spark, monkeypatch):
    """The dispatcher must route by measured max per-key share: bucketed
    at/above hot_row_threshold, sequential below."""
    from etl_pipeline_candy_store_spark.operators import allocation as mod

    calls = []
    real_seq, real_bkt = mod.allocate_sequential, mod.allocate_bucketed
    monkeypatch.setattr(
        mod, "allocate_sequential",
        lambda *a, **k: calls.append("seq") or real_seq(*a, **k),
    )
    monkeypatch.setattr(
        mod, "allocate_bucketed",
        lambda *a, **k: calls.append("bkt") or real_bkt(*a, **k),
    )
    rows = [{"key": 1, "seq": i, "qty": 1, "stock": 500} for i in range(200)]
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    kw = dict(key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    mod.allocate(df, hot_row_threshold=100, **kw).count()   # 200 >= 100, no exhaust
    mod.allocate(df, hot_row_threshold=1000, **kw).count()  # 200 < 1000
    # exhausting hot key (sum qty 200 > stock 50): the no-exhaust
    # threshold no longer applies — the much larger exhaust threshold
    # governs, so this stays sequential despite 200 >= 100
    dfx = spark.createDataFrame(
        [{"key": 1, "seq": i, "qty": 1, "stock": 50} for i in range(200)],
        "key int, seq int, qty int, stock int",
    )
    mod.allocate(dfx, hot_row_threshold=100, **kw).count()
    # ...and is bucketed once the exhaust threshold is crossed too
    mod.allocate(
        dfx, hot_row_threshold=100, exhaust_hot_row_threshold=150, **kw
    ).count()
    # calls[0:3] are the first three dispatch choices; the 4th dispatch
    # picks bucketed, whose exhaust repair then invokes the (patched)
    # sequential allocator internally — so compare the prefix exactly
    # and the 4th choice positionally
    assert calls[:4] == ["bkt", "seq", "seq", "bkt"], calls


def test_auto_dispatch_row_bound_skips_probe(spark, monkeypatch):
    """A caller's row bound below both thresholds rules out a hot key:
    the dispatcher returns the sequential plan without probing. A bound
    that reaches either threshold still probes."""
    from etl_pipeline_candy_store_spark.operators import allocation as mod

    calls = []
    real_seq, real_bkt = mod.allocate_sequential, mod.allocate_bucketed
    monkeypatch.setattr(
        mod, "allocate_sequential",
        lambda *a, **k: calls.append("seq") or real_seq(*a, **k),
    )
    monkeypatch.setattr(
        mod, "allocate_bucketed",
        lambda *a, **k: calls.append("bkt") or real_bkt(*a, **k),
    )
    rows = [{"key": 1, "seq": i, "qty": 1, "stock": 500} for i in range(200)]
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    kw = dict(key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    sc = spark.sparkContext

    def dispatch(group, **opts):
        calls.clear()
        sc.setJobGroup(group, group)
        try:
            out = mod.allocate(df, max_rows=200, **kw, **opts)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert out.count() == 200
        return calls[0], n_jobs

    assert dispatch("bound_below", hot_row_threshold=201) == ("seq", 0)
    choice, n_jobs = dispatch("bound_at", hot_row_threshold=200)
    assert (choice, n_jobs > 0) == ("bkt", True)
    # the exhaust threshold counts too: a bound that reaches it probes
    choice, n_jobs = dispatch(
        "bound_at_exhaust", hot_row_threshold=10**6, exhaust_hot_row_threshold=200
    )
    assert (choice, n_jobs > 0) == ("seq", True)


def test_auto_dispatch_sampled_probe(spark):
    """sample_fraction estimates the max share instead of counting it
    exactly; an undersized sample must fall back to the sequential path
    rather than crash."""
    from etl_pipeline_candy_store_spark.operators import allocation as mod

    rows = [{"key": 1, "seq": i, "qty": 1, "stock": 50000} for i in range(20000)]
    df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
    kw = dict(key_col="key", seq_cols=["seq"], qty_col="qty", stock_col="stock")
    # 10% sample of 20k hot rows ~ 2000 -> scaled estimate ~20k >= 10k
    out = mod.allocate(
        df, hot_row_threshold=10_000, sample_fraction=0.1, n_buckets=4, **kw
    )
    assert out.count() == 20000
    # fraction so small the sample is empty -> falls back to sequential
    out2 = mod.allocate(
        df, hot_row_threshold=1, sample_fraction=1e-9, **kw
    )
    assert out2.count() == 20000


try:
    from hypothesis import given, settings, strategies as st
except ImportError:  # pragma: no cover
    st = None

if st is not None:

    _dreq = st.lists(
        st.tuples(st.integers(1, 3), st.integers(1, 10)),  # (key, qty)
        min_size=1,
        max_size=40,
    )

    @given(
        reqs=_dreq,
        stock=st.integers(0, 30),
        hot_thresh=st.sampled_from([1, 5, 10**9]),
    )
    @settings(max_examples=10, deadline=None)
    @pytest.mark.slow
    def test_property_dispatcher_matches_python_oracle(
        spark, reqs, stock, hot_thresh
    ):
        """allocate() must equal the python simulator REGARDLESS of
        which strategy the probe picks — thresholds are swept from
        always-bucketed (1) through sometimes (5) to never (1e9), and
        the exhaust threshold is pinned to the same value so exhausting
        shapes also flip strategies."""
        from etl_pipeline_candy_store_spark.operators.allocation import allocate

        rows = [
            {"key": k, "seq": i, "qty": q, "stock": stock}
            for i, (k, q) in enumerate(reqs)
        ]
        df = spark.createDataFrame(rows, "key int, seq int, qty int, stock int")
        got = {
            (r["key"], r["seq"]): (r["quantity"], r["cancelled"], r["stock_after"])
            for r in allocate(
                df,
                key_col="key",
                seq_cols=["seq"],
                qty_col="qty",
                stock_col="stock",
                hot_row_threshold=hot_thresh,
                exhaust_hot_row_threshold=hot_thresh,
                n_buckets=3,
            ).collect()
        }
        want = {
            (r["key"], r["seq"]): (r["quantity"], r["cancelled"], r["stock_after"])
            for r in allocate_python_oracle(
                rows, key="key", seq=["seq"], qty="qty", stock="stock"
            )
        }
        assert got == want
