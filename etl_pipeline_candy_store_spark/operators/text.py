"""Text-analysis operators for the training-data pipeline surface:
token counting, quality scoring, language-ID heuristic, document
fingerprinting. All pure built-in column expressions (whole-stage
codegen; no Python in the hot path), each with an exact DuckDB oracle.

Parity rules: token counts are computed arithmetically from space counts
(identical in both engines on the single-space-separated corpus); ratios
are emitted as exact double divisions of integers; fingerprints are md5
hex (identical function both sides).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.functions.ngrams import ngrams, shifted
from etl_pipeline_candy_store_spark.plans.catalog import load, register

# Tiny deterministic stopword lists for the language-ID heuristic.
_LANG_MARKERS = {
    "en": ("the", "a"),
    "de": ("der", "die"),
    "es": ("el", "la"),
    "fr": ("le", "un"),
}


@register(
    "q40_text_stats",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars_calc,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS n_tokens,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_token_len,
       CAST(len(list_filter(string_split(text, ' '), t -> t = 'the')) AS INTEGER) AS n_stopword,
       CAST(len(list_filter(string_split(text, ' '), t -> t = 'the')) AS DOUBLE)
         / (length(text) - length(replace(text, ' ', '')) + 1) AS stopword_ratio
FROM documents
""",
    doc="Quality-scoring statistics per document (length, token count, "
    "stopword ratio) — all JVM-side expressions.",
)
def q40_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tok = F.length("text") - F.length(F.regexp_replace("text", " ", "")) + F.lit(1)
    n_stop = F.size(F.filter(F.split("text", " "), lambda t: t == "the"))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tok).alias(
            "avg_token_len"
        ),
        n_stop.alias("n_stopword"),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
    )


@register(
    "q41_fingerprint",
    oracle="""
SELECT doc_id,
       md5(text) AS fp_raw,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS fp_tokenset
FROM documents
""",
    doc="Document fingerprinting: raw md5 + canonical token-set md5 "
    "(order-insensitive near-dup key).",
)
def q41_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_raw"),
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split("text", " "))), " "
            ).cast("binary")
        ).alias("fp_tokenset"),
    )


def _marker_score_sql(lang: str) -> str:
    toks = ", ".join(f"'{t}'" for t in _LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter(string_split(text, ' '), t -> t IN ({toks}))) "
        f"AS INTEGER)"
    )


@register(
    "q42_langid",
    oracle=f"""
SELECT doc_id, lang AS meta_lang,
       {_marker_score_sql('en')} AS score_en,
       {_marker_score_sql('de')} AS score_de,
       {_marker_score_sql('es')} AS score_es,
       {_marker_score_sql('fr')} AS score_fr,
       CASE WHEN {_marker_score_sql('en')} > 0 THEN 'en' ELSE 'und' END AS predicted_lang
FROM documents
""",
    doc="Language-ID n-gram/stopword heuristic (deterministic marker "
    "lists; a real deployment swaps in larger lists, same plan shape).",
)
def q42_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")

    def score(lang: str):
        markers = _LANG_MARKERS[lang]
        return F.size(F.filter(F.split("text", " "), lambda t: t.isin(*markers)))

    return d.select(
        "doc_id",
        F.col("lang").alias("meta_lang"),
        score("en").alias("score_en"),
        score("de").alias("score_de"),
        score("es").alias("score_es"),
        score("fr").alias("score_fr"),
        F.when(score("en") > 0, "en").otherwise("und").alias("predicted_lang"),
    )


@register(
    "q43_source_rollup",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY source
""",
    doc="Corpus rollup per source — the shape of a crawl-shard audit.",
)
def q43_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_tok = F.length("text") - F.length(F.regexp_replace("text", " ", "")) + F.lit(1)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok.cast("long")).alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q44_tfidf_top_term",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         CAST(tf.tf * n.n_docs * 1000000 // df.df AS BIGINT) AS score_micro
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok AS top_term, score_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score_micro DESC, tok) AS rn
  FROM scored) t
WHERE rn = 1
""",
    doc="TF-IDF-style top term per doc. Rational scoring "
    "(tf·N·1e6 div df, integer arithmetic) instead of ln() so both "
    "engines agree bit-for-bit; same ranking monotonicity per doc as "
    "tf·(N/df).",
)
def q44_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.expr("CAST(tf * n_docs * 1000000 div df AS BIGINT)").alias(
                "score_micro"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_micro").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "score_micro")
    )


@register(
    "q45_regex_tokens",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_word_tokens,
       regexp_extract(text, '[a-z]{5,}') AS first_long_token,
       CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 5)) AS INTEGER)
         AS n_long_tokens,
       CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INTEGER) AS n_chars_no_vowels
FROM documents
""",
    doc="Regex tokenization (BPE-ish splitting building block). Patterns "
    "restricted to char classes that behave identically in Java regex "
    "and RE2.",
)
def q45_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("regexp_count(text, '[a-z]+')").alias("n_word_tokens"),
        F.regexp_extract("text", "[a-z]{5,}", 0).alias("first_long_token"),
        F.size(F.filter(F.split("text", " "), lambda t: F.length(t) >= 5)).alias(
            "n_long_tokens"
        ),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias("n_chars_no_vowels"),
    )


@register(
    "q47_rolling_hash",
    oracle="""
SELECT doc_id,
       list_reduce(
         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
         (a, b) -> (a * 31 + b) % 1000000007
       ) AS poly_hash
FROM documents
""",
    doc="Document fingerprinting via polynomial rolling hash "
    "(Rabin-Karp base 31 mod 1e9+7) — pure integer fold, identical in "
    "both engines (Spark aggregate init 0 ≡ DuckDB first-element init "
    "since 0*31+c1 == c1).",
)
def q47_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    chars = F.split("text", "")
    poly = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return d.select("doc_id", poly.alias("poly_hash"))


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """Distinct winnowing fingerprints (doc_id, wmin) over any
    (doc_id, text) frame: rolling polynomial hash per 3-gram shingle,
    min per trailing 4-shingle window, distinct mins. Shared by q48's
    per-doc profile and q239's fingerprint-keyed near-dup pairs.

    r15 plan: the old shape folded the polynomial over every CHARACTER
    of every materialized shingle string (≈3× the corpus characters
    through an interpreted higher-order lambda). Polynomial hashes
    compose: h(s1 ++ s2) = (h(s1)·31^len(s2) + h(s2)) mod p, so the
    per-character fold now runs once per DISTINCT token (Zipf-bounded
    vocabulary work), emitting (h_tok, 31^len_tok mod p), and each
    shingle's hash is five integer mod-ops composed from its three
    tokens' values via two lead() columns on the same (doc_id, pos)
    window the winnow minimum already needs. Shingle strings are never
    materialized. Every intermediate product stays < 2^61 (operands
    reduced mod p ≈ 2^30 first), so ANSI long arithmetic is exact and
    the hashes are bit-identical to the character fold's."""
    from pyspark.sql.window import Window

    P = 1_000_000_007
    occ = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    # one interpreted char-fold per DISTINCT token: h = poly hash,
    # pw = 31^len mod p. The EMPTY token (consecutive/leading/trailing
    # spaces in the text) must contribute the identity (0, 1) — but
    # Spark's split('', '') returns [''], one empty element, whose fold
    # step would yield (0, 31). Filtering empty chars out of the split
    # makes the fold run zero steps there (init = the identity) and is
    # a no-op for every non-empty token (single-char splits are never
    # empty) — r16, the ADVICE.md empty-token fix, pinned by
    # tests/test_winnow_irregular_whitespace.py against the q48 oracle.
    vocab = (
        occ.select("tok")
        .distinct()
        .select(
            "tok",
            F.aggregate(
                F.filter(F.split("tok", ""), lambda c: c != ""),
                F.struct(
                    F.lit(0).cast("long").alias("h"),
                    F.lit(1).cast("long").alias("pw"),
                ),
                lambda a, c: F.struct(
                    ((a["h"] * 31 + F.ascii(c).cast("long")) % P).alias("h"),
                    ((a["pw"] * 31) % P).alias("pw"),
                ),
            ).alias("hp"),
        )
        .select("tok", F.col("hp.h").alias("h"), F.col("hp.pw").alias("pw"))
        # duplicated-content-sized? No — vocabulary-sized, but the
        # explode above wrecks Catalyst's size estimate, so keep the
        # planner off a static broadcast; AQE rebroadcasts at runtime
        # when the vocabulary is genuinely small.
        .hint("merge")
    )
    seq = Window.partitionBy("doc_id").orderBy("pos")
    tok_h = occ.join(vocab, "tok").select("doc_id", "pos", "h", "pw")
    comp = (
        tok_h.withColumn("h2", F.lead("h", 1).over(seq))
        .withColumn("pw2", F.lead("pw", 1).over(seq))
        .withColumn("h3", F.lead("h", 2).over(seq))
        .withColumn("pw3", F.lead("pw", 2).over(seq))
        .filter(F.col("h3").isNotNull())
    )
    # h(t1 ' ' t2 ' ' t3), composed left to right with a mod after
    # every step (32 = ascii space)
    sh_h = (
        (
            ((F.col("h") * 31 + 32) % P * F.col("pw2") + F.col("h2")) % P * 31
            + 32
        )
        % P
        * F.col("pw3")
        + F.col("h3")
    ) % P
    hashed = comp.select("doc_id", "pos", sh_h.alias("h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
    )
    return hashed.select("doc_id", F.min("h").over(w).alias("wmin")).distinct()



@register(
    "q48_winnowing",
    oracle="""
WITH sh AS (
    SELECT d.doc_id, u.i AS pos,
           t.toks[i] || ' ' || t.toks[i+1] || ' ' || t.toks[i+2] AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    JOIN documents d USING (doc_id),
    unnest(range(1, greatest(len(t.toks) - 1, 1))) AS u(i)
),
hashed AS (
  SELECT doc_id, pos,
         list_reduce(
           list_transform(string_split(shingle, ''), c -> CAST(ascii(c) AS BIGINT)),
           (a, b) -> (a * 31 + b) % 1000000007
         ) AS h
  FROM sh
),
winmin AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM hashed
),
fps AS (SELECT DISTINCT doc_id, wmin FROM winmin)
SELECT doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_fingerprints,
       CAST(MIN(wmin) AS BIGINT) AS min_fp,
       CAST(MAX(wmin) AS BIGINT) AS max_fp
FROM fps GROUP BY doc_id
""",
    doc="Winnowing (MOSS-style) fingerprint selection: rolling polynomial "
    "hash per 3-gram shingle, min per 4-shingle window, distinct mins = "
    "the document's fingerprint set. The classic robust-dedup "
    "fingerprinting, pure integer arithmetic in both engines.",
)
def q48_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("wmin").alias("min_fp"),
        F.max("wmin").alias("max_fp"),
    )


_CHUNK_W = 64  # tokens per training chunk
_CHUNK_S = 48  # stride (overlap = W - S = 16 tokens)


@register(
    "q49_token_chunking",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
starts AS (
  SELECT doc_id, toks, u.s
  FROM t, unnest(range(0, len(toks), {_CHUNK_S})) AS u(s)
)
SELECT doc_id,
       CAST(s // {_CHUNK_S} AS INTEGER) AS chunk_idx,
       CAST(len(list_slice(toks, s + 1, s + {_CHUNK_W})) AS INTEGER) AS n_chunk_tokens,
       array_to_string(list_slice(toks, s + 1, s + {_CHUNK_W}), ' ') AS chunk_text
FROM starts
""",
    doc="Context-window chunking: split each document into overlapping "
    f"{_CHUNK_W}-token windows at stride {_CHUNK_S} (the doc->training-"
    "sample fan-out of an LLM data pipeline). Pure explode + slice on "
    "the token array — fan-out is row-local (no shuffle at all; chunking "
    "100 TB is embarrassingly parallel and this plan keeps it that way).",
)
def q49_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    starts = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(_CHUNK_S))
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"CAST(s div {_CHUNK_S} AS INT)").alias("chunk_idx"),
        F.size(F.slice("toks", F.col("s") + 1, F.lit(_CHUNK_W))).alias(
            "n_chunk_tokens"
        ),
        F.concat_ws(" ", F.slice("toks", F.col("s") + 1, F.lit(_CHUNK_W))).alias(
            "chunk_text"
        ),
    )


@register(
    "q82_inverted_index",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT tok AS token,
       CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM toks GROUP BY tok
""",
    doc="Inverted-index build: token -> document frequency + sorted "
    "posting list. One shuffle on the token (the index's natural "
    "partition key at scale: postings for a token co-locate, and "
    "collect_list is bounded by the token's df, not corpus size). The "
    "search-side primitive a retrieval/RAG data pipeline builds from "
    "the same corpus it trains on. Postings surface as a comma-joined "
    "STRING, not array<bigint>: the catalog's hash compare stringifies "
    "cells, and array cells render differently with Arrow-backed "
    "toPandas (numpy, '[1 2 3]') vs plain ('[1, 2, 3]') — a scalar "
    "column is stable on ANY session config (found by "
    "check_oracle.py --plain; no other catalog query emits a "
    "non-scalar column — tests/test_catalog_schema.py pins that).",
)
def q82_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


@register(
    "q89_vocab_coverage",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS n_types FROM counts),
ranked AS (
  SELECT tok, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, tok
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counts
)
SELECT CAST(rank AS INTEGER) AS rank, tok, CAST(cnt AS BIGINT) AS cnt,
       CAST(cum * 1000000 // n_total AS BIGINT) AS coverage_ppm,
       CAST(n_types AS BIGINT) AS n_types
FROM ranked, total
WHERE rank <= 32
""",
    doc="Tokenizer-vocabulary coverage curve: rank tokens by corpus "
    "frequency and report each prefix vocabulary's cumulative corpus "
    "coverage (ppm, integer division — exact cross-engine). The "
    "build-a-vocab primitive: pick V by reading coverage at rank V. "
    "Scale shape: one map-side-combinable token count; the top-32 is "
    "taken with orderBy().limit(32) — Spark's TakeOrderedAndProject, a "
    "parallel partial top-k with per-partition heaps — so NO window "
    "ever sees the full vocabulary (which at 100 TB is easily 10^8 "
    "types); the rank/cumsum window runs over exactly 32 rows.",
)
def q89_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(
        F.sum("cnt").alias("n_total"), F.count(F.lit(1)).alias("n_types")
    )
    # parallel partial top-k (TakeOrderedAndProject): every rank <= 32
    # row survives the limit, and cum at rank r depends only on ranks
    # <= r, so the 32-row prefix alone determines the full output
    top = counts.orderBy(F.col("cnt").desc(), "tok").limit(32)
    w = Window.orderBy(F.col("cnt").desc(), "tok")
    ranked = top.select(
        "tok",
        "cnt",
        F.row_number().over(w).alias("rank"),
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    return ranked.join(F.broadcast(total)).select(
        F.col("rank").cast("int").alias("rank"),
        "tok",
        F.col("cnt").cast("long").alias("cnt"),
        F.expr("cum * 1000000 div n_total").cast("long").alias("coverage_ppm"),
        F.col("n_types").cast("long").alias("n_types"),
    )


@register(
    "q97_context_pairs",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pairs AS (
  SELECT least(t.toks[i], t.toks[i + d]) AS tok_a,
         greatest(t.toks[i], t.toks[i + d]) AS tok_b
  FROM t,
       unnest(range(1, 3)) AS dd(d),
       unnest(range(1, greatest(len(t.toks) - d + 1, 1))) AS u(i)
)
SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS n_cooccur
FROM pairs GROUP BY tok_a, tok_b
ORDER BY n_cooccur DESC, tok_a, tok_b
LIMIT 50
""",
    doc="Skip-gram context-pair counts (word2vec-style training-pair "
    "extraction): for every token, its unordered pairs with neighbors "
    "at distance 1 and 2, counted corpus-wide; top-50 with "
    "deterministic tiebreak. Row-local explode (the pair fan-out is "
    "2 rows per token position — linear, zero joins) into ONE "
    "map-side-combinable aggregate on the pair key; the co-occurrence "
    "statistic PMI, GloVe, and embedding-training pipelines consume.",
)
def q97_context_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # one array per doc holding its distance-1 and distance-2 pairs,
    # canonically ordered within each pair after the explode
    toks = F.split("text", " ")
    pairs = F.concat(shifted(toks, a=0, b=1), shifted(toks, a=0, b=2))
    return (
        d.select(F.explode(pairs).alias("p"))
        .select(
            F.least("p.a", "p.b").alias("tok_a"),
            F.greatest("p.a", "p.b").alias("tok_b"),
        )
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
        .orderBy(F.col("n_cooccur").desc(), "tok_a", "tok_b")
        .limit(50)
    )

# row-local adjacent-bigram extraction (_doc_bigrams: the (w1, w2)
# zip of the token array with itself shifted by one) and its SQL twin —
# ONE copy of the pairing rule, shared by q107 (the LM table) and q109
# (per-doc scoring); a change to bigram semantics lands in both
_BIGRAM_CTES = """toks AS (
  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
big AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, tok AS w1, LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks) t
  WHERE w2 IS NOT NULL
)"""


def _doc_bigrams(d: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) adjacent pairs per document — the Spark twin of
    ``_BIGRAM_CTES``."""
    return d.select(
        "doc_id", F.explode(shifted(F.split("text", " "), w1=0, w2=1)).alias("b")
    ).select("doc_id", "b.w1", "b.w2")


@register(
    "q107_bigram_lm",
    oracle=f"""
WITH {_BIGRAM_CTES},
bc AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM big GROUP BY 1, 2),
hc AS (SELECT w1, SUM(n_bigram) AS n_history FROM bc GROUP BY 1),
v AS (SELECT COUNT(DISTINCT tok) AS vocab FROM toks)
SELECT bc.w1, bc.w2, bc.n_bigram,
       CAST(hc.n_history AS BIGINT) AS n_history,
       ((bc.n_bigram + 1) * 1000000) // (CAST(hc.n_history AS BIGINT) + v.vocab)
         AS p_add1_micros
FROM bc JOIN hc USING (w1) CROSS JOIN v
""",
    doc="Add-one-smoothed bigram language model: per ordered token pair "
    "(w1, w2), P(w2|w1) = (c(w1,w2)+1) / (c(w1,*)+V) in integer "
    "micro-units — the n-gram LM table perplexity filters and "
    "classical LM quality scoring consume. Bigram extraction is "
    "row-local (one array transform per doc, zero shuffles before the "
    "count); the corpus touches exactly ONE map-side-combinable "
    "aggregate on the bigram key, history counts fold from the bigram "
    "counts (no second corpus pass), and V is a scalar broadcast. "
    "All-integer probabilities: associative, retry-stable, "
    "cross-engine exact.",
)
def q107_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("toks"))
    bc = (
        _doc_bigrams(d)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
    )
    hc = bc.groupBy("w1").agg(F.sum("n_bigram").alias("n_history"))
    v = toks.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    return (
        bc.join(hc, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            "n_bigram",
            "n_history",
            F.expr("((n_bigram + 1) * 1000000) div (n_history + vocab)").alias(
                "p_add1_micros"
            ),
        )
    )


# q107's registered oracle doubles as the probability-table CTE here —
# one copy of the LM semantics (same composition pattern as q101/q106)
def _q109_oracle() -> str:
    from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY

    q107 = REGISTRY["q107_bigram_lm"].oracle
    return f"""
WITH p AS ({q107}),
{_BIGRAM_CTES}
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(p.p_add1_micros) AS BIGINT) // COUNT(*) AS avg_p_micros,
       (CAST(SUM(p.p_add1_micros) AS BIGINT) // COUNT(*)) < 33000 AS low_quality
FROM big b JOIN p ON p.w1 = b.w1 AND p.w2 = b.w2
GROUP BY b.doc_id
"""


@register(
    "q109_lm_quality_score",
    oracle=None,  # composed from q107's registered SQL below
    doc="LM-based quality scoring (the perplexity-filter analog, "
    "integer-exact): every doc's bigrams are scored against the "
    "corpus-wide add-one bigram table (q107) and averaged; docs whose "
    "mean bigram probability falls below 33000 micro-units are flagged "
    "low-quality — improbable token sequences are exactly what "
    "perplexity filters remove from training corpora. The probability "
    "table is corpus-derived but tiny relative to the corpus "
    "(observed-bigram-count rows), so the score join is an equi-join "
    "on the bigram key against a broadcastable side; per-doc "
    "aggregation is map-side combinable. All-integer micro-unit "
    "arithmetic keeps it associative and cross-engine exact.",
)
def q109_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = q107_bigram_lm(spark, sf_dir).select("w1", "w2", "p_add1_micros")
    big = _doc_bigrams(load(spark, sf_dir, "documents"))
    scored = big.join(F.broadcast(p), ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(p_add1_micros) div count(1)").alias("avg_p_micros"),
        (F.expr("sum(p_add1_micros) div count(1)") < 33000).alias("low_quality"),
    )


from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY as _TEXT_REG
import dataclasses as _dc_text

_TEXT_REG["q109_lm_quality_score"] = _dc_text.replace(
    _TEXT_REG["q109_lm_quality_score"], oracle=_q109_oracle()
)


@register(
    "q116_bpe_merge_pairs",
    oracle="""
WITH wc AS (
  SELECT tok AS word, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
pairs AS (
  SELECT string_split(word, '')[CAST(t.i + 1 AS INTEGER)] AS sym_a,
         string_split(word, '')[CAST(t.i + 2 AS INTEGER)] AS sym_b,
         n
  FROM wc, unnest(range(length(word) - 1)) AS t(i)
)
SELECT sym_a, sym_b, CAST(SUM(n) AS BIGINT) AS n_pair
FROM pairs GROUP BY sym_a, sym_b
ORDER BY n_pair DESC, sym_a, sym_b
LIMIT 20
""",
    doc="BPE tokenizer training, iteration one: the top merge "
    "candidates — adjacent symbol pairs counted across the corpus, "
    "weighted by word frequency. The corpus collapses FIRST to the "
    "word-frequency table (the only corpus-wide aggregate; vocabulary-"
    "bounded), then pair extraction fans out row-locally over that "
    "tiny table and one more aggregate on the symbol-pair key ranks "
    "candidates with a deterministic tiebreak. This is exactly how "
    "production BPE trainers scale: all subsequent merge iterations "
    "operate on the word table, never re-reading the corpus.",
)
def q116_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = F.expr(
        "transform(sequence(0, length(word) - 2), i -> "
        " struct(substring(word, i + 1, 1) AS sym_a,"
        "        substring(word, i + 2, 1) AS sym_b))"
    )
    return (
        wc.filter(F.length("word") > 1)
        .select(F.explode(pairs).alias("p"), "n")
        .select("p.sym_a", "p.sym_b", "n")
        .groupBy("sym_a", "sym_b")
        .agg(F.sum("n").alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), "sym_a", "sym_b")
        .limit(20)
    )


# q97's registered oracle doubles as the pair-count CTE here — one copy
# of the co-occurrence semantics (same composition pattern as q101/q109)
def _q118_oracle() -> str:
    from etl_pipeline_candy_store_spark.plans.catalog import REGISTRY

    q97 = REGISTRY["q97_context_pairs"].oracle
    return f"""
WITH pairs AS ({q97}),
uc AS (
  SELECT tok, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM uc)
SELECT p.tok_a, p.tok_b, p.n_cooccur,
       (p.n_cooccur * tot.n * 1000000) // (ca.cnt * cb.cnt) AS pmi_ratio_micros
FROM pairs p
JOIN uc ca ON ca.tok = p.tok_a
JOIN uc cb ON cb.tok = p.tok_b
CROSS JOIN tot
"""


@register(
    "q118_pmi_scores",
    oracle=None,  # composed from q97's registered SQL below
    doc="Pointwise-mutual-information association scores for the top "
    "co-occurring token pairs (q97's table): the monotone PMI proxy "
    "n(a,b)*N / (n(a)*n(b)) as an exact integer micro-ratio — ln() "
    "would only monotone-transform the ranking and would cost "
    "cross-engine float agreement. The collocation/phrase-mining "
    "statistic (word2vec's SGNS objective is shifted PMI). Unigram "
    "counts are a vocabulary-bounded broadcast; the pair table is "
    "top-50, so scoring touches nothing corpus-sized beyond q97's own "
    "single aggregate.",
)
def q118_pmi_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q97_context_pairs(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    uc = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = uc.agg(F.sum("cnt").cast("long").alias("n"))
    return (
        pairs.join(
            F.broadcast(uc.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("ca"))),
            "tok_a",
        )
        .join(
            F.broadcast(uc.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cb"))),
            "tok_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a",
            "tok_b",
            "n_cooccur",
            F.expr("(n_cooccur * n * 1000000) div (ca * cb)").alias(
                "pmi_ratio_micros"
            ),
        )
    )


_TEXT_REG["q118_pmi_scores"] = _dc_text.replace(
    _TEXT_REG["q118_pmi_scores"], oracle=_q118_oracle()
)


# q119 two-level prefix sum: docs per range bucket. At 10^10 docs this
# leaves ~150k bucket rows for the single small unpartitioned window.
_PREFIX_BUCKET = 65536


@register(
    "q119_vocab_growth",
    oracle="""
WITH lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
),
off AS (
  SELECT doc_id,
         COALESCE(SUM(n) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM lens
),
tp AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
fo AS (
  SELECT tok, MIN(o.off + tp.pos) AS first_pos
  FROM tp JOIN off o ON o.doc_id = tp.doc_id GROUP BY tok
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM lens),
b AS (
  SELECT CAST(u.d AS INTEGER) AS decile, (CAST(u.d AS BIGINT) * tot.t) // 10 AS corpus_tokens
  FROM tot, unnest(range(1, 11)) AS u(d)
)
SELECT b.decile, b.corpus_tokens,
       CAST(COUNT(CASE WHEN fo.first_pos < b.corpus_tokens THEN 1 END) AS BIGINT)
         AS vocab_size
FROM b CROSS JOIN fo
GROUP BY b.decile, b.corpus_tokens
""",
    doc="Heaps'-law vocabulary growth curve: distinct-type count after "
    "each tenth of the corpus (in canonical doc_id token order) — the "
    "diminishing-returns diagnostic behind 'how much more data buys "
    "how much more vocabulary'. Global token positions come from a "
    "prefix sum over the PER-DOC length relation (doc-count-sized, "
    "never the corpus) plus a row-local in-doc offset; first "
    "occurrences are one corpus aggregate on the token key; the curve "
    "itself is a 10-row broadcast against the vocabulary-bounded "
    "first-occurrence table. All integer.",
)
def q119_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    lens = d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n"))
    # Two-level prefix sum: a single-task `Window.orderBy("doc_id")` over
    # the per-doc relation would serialize the whole corpus through one
    # task. Instead (a) a window PARTITIONED by a doc_id range bucket
    # computes in-bucket prefix sums in parallel, and (b) the only
    # unpartitioned window runs over the per-bucket totals — a relation
    # 2^16x smaller than the corpus — whose cumulative offsets broadcast
    # back. Bucketing by `doc_id div B` keeps (bkt, doc_id) order equal
    # to global doc_id order, so the sum is exactly the q119 oracle's.
    lens_b = lens.withColumn("bkt", F.expr(f"doc_id div {_PREFIX_BUCKET}"))
    w_local = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = lens_b.select(
        "doc_id", "bkt", F.coalesce(F.sum("n").over(w_local), F.lit(0)).alias("loc")
    )
    btot = lens_b.groupBy("bkt").agg(F.sum("n").alias("bn"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "bkt", F.coalesce(F.sum("bn").over(w_bkt), F.lit(0)).alias("boff")
    )
    off = local.join(F.broadcast(boff), "bkt").select(
        "doc_id", (F.col("boff") + F.col("loc")).alias("off")
    )
    tp = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")
    fo = (
        tp.join(off, "doc_id")
        .groupBy("tok")
        .agg(F.min(F.col("off") + F.col("pos")).alias("first_pos"))
    )
    tot = lens.agg(F.sum("n").alias("t"))
    b = tot.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("d"), "t"
    ).select(
        F.col("d").cast("int").alias("decile"),
        F.expr("(CAST(d AS BIGINT) * t) div 10").alias("corpus_tokens"),
    )
    return (
        F.broadcast(b)
        .crossJoin(fo)
        .groupBy("decile", "corpus_tokens")
        .agg(
            F.count(F.when(F.col("first_pos") < F.col("corpus_tokens"), 1)).alias(
                "vocab_size"
            )
        )
    )


@register(
    "q121_source_keyness",
    oracle="""
WITH st AS (
  SELECT d.source, t.tok, COUNT(*) AS c_st
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
  JOIN documents d USING (doc_id)
  GROUP BY 1, 2
),
src AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
tok AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY tok),
tot AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM st),
scored AS (
  SELECT st.source, st.tok, st.c_st,
         (st.c_st * tot.n * 1000000)
           // (CAST(tok.c_t AS BIGINT) * CAST(src.n_s AS BIGINT)) AS keyness_micros
  FROM st
  JOIN src ON src.source = st.source
  JOIN tok ON tok.tok = st.tok
  CROSS JOIN tot
)
SELECT source, tok AS key_token, c_st AS n_in_source, keyness_micros FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY keyness_micros DESC, tok) AS rn
  FROM scored) t
WHERE rn = 1
""",
    doc="Per-source keyness: the token most over-represented in each "
    "source relative to the whole corpus, ranked by the exact integer "
    "ratio p(tok|source)/p(tok) in micro-units — the "
    "characterize-this-corpus-slice statistic (log-likelihood keyness "
    "ranks identically for a fixed source since ln is monotone). One "
    "corpus aggregate on the (source, token) key; the marginals fold "
    "from it (no second corpus pass), and the top-1 window runs on the "
    "vocabulary-x-sources table, never the corpus.",
)
def q121_source_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    src = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    tok = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    tot = st.agg(F.sum("c_st").cast("long").alias("n"))
    scored = (
        st.join(F.broadcast(src), "source")
        .join(F.broadcast(tok), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tok",
            "c_st",
            F.expr("(c_st * n * 1000000) div (c_t * n_s)").alias("keyness_micros"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("keyness_micros").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("tok").alias("key_token"),
            F.col("c_st").alias("n_in_source"),
            "keyness_micros",
        )
    )


@register(
    "q122_repetition_signals",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, 1 AS n, unnest(t) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 2 AS n,
         list_extract(t, CAST(u.i AS INTEGER)) || ' ' ||
         list_extract(t, CAST(u.i + 1 AS INTEGER)) AS gram
  FROM toks, unnest(range(1, len(t))) AS u(i)
  UNION ALL
  SELECT doc_id, 3 AS n,
         list_extract(t, CAST(u.i AS INTEGER)) || ' ' ||
         list_extract(t, CAST(u.i + 1 AS INTEGER)) || ' ' ||
         list_extract(t, CAST(u.i + 2 AS INTEGER)) AS gram
  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
),
counts AS (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3
),
per AS (
  SELECT doc_id,
         SUM(CASE WHEN n = 1 THEN c END) AS tot1,
         COUNT(CASE WHEN n = 1 THEN 1 END) AS d1,
         SUM(CASE WHEN n = 2 THEN c END) AS tot2,
         MAX(CASE WHEN n = 2 THEN c END) AS max2,
         SUM(CASE WHEN n = 3 THEN c END) AS tot3,
         COUNT(CASE WHEN n = 3 THEN 1 END) AS d3
  FROM counts GROUP BY doc_id
)
SELECT doc_id,
       CAST(COALESCE((max2 * 1000000) // NULLIF(tot2, 0), 0) AS BIGINT)
         AS top_bigram_frac_micros,
       CAST(COALESCE(((tot3 - d3) * 1000000) // NULLIF(tot3, 0), 0) AS BIGINT)
         AS dup_trigram_frac_micros,
       CAST((d1 * 1000000) // tot1 AS BIGINT) AS unique_token_ratio_micros
FROM per
""",
    doc="Within-document repetition signals — the Gopher-family quality "
    "gates that catch boilerplate and generation loops before they "
    "reach a training corpus: most-frequent-bigram share, duplicated-"
    "trigram occurrence share, and unique-token ratio, all integer "
    "micros (cross-engine exact). Plan (r15): every signal is within-"
    "document, so the whole query is a pure map — row-local n-gram "
    "arrays, array_distinct sizes for the distinct counts, and the "
    "top-bigram count as the longest run in the sorted bigram array — "
    "ZERO exchanges, no windows, no joins (was: explode + two keyed "
    "shuffles carrying gram strings).",
)
def q122_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_signals(load(spark, sf_dir, "documents"))


# Canonical repetition-gate thresholds (micros). Single source of truth
# consumed by plans/curation_pipeline.drop_repetitive's defaults AND the
# q233 gate-attribution audit, so the audit can never desynchronize from
# the funnel it measures.
REP_TOP_BIGRAM_MAX_MICROS = 600_000
REP_DUP_TRIGRAM_MAX_MICROS = 400_000


def repetition_signals(d: DataFrame) -> DataFrame:
    """q122's signals over any (doc_id, text) frame — reusable as a
    curation-pipeline gate. Documents shorter than a gram size
    contribute zero for that signal (the NULLIF/COALESCE paths); NULL
    text emits no row (the size >= 1 filter).

    Every signal is WITHIN-document, so the plan is a pure map with
    zero exchanges: the gram arrays come from :mod:`..functions.ngrams`
    (linear even under the filter ``drop_repetitive`` pushes through
    them), distinct counts are array_distinct sizes, and the top-bigram
    count is the longest run in the sorted bigram array."""
    base = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 1)
        .select(
            "doc_id", "t", ngrams("t", 2).alias("big"), ngrams("t", 3).alias("tri")
        )
    )
    # longest equal-run in the sorted bigram array == max per-doc bigram
    # count. The '' init can never match a real bigram (every bigram
    # contains the joining space).
    maxrun = F.expr(
        "aggregate(array_sort(big), struct('' as prev, 0L as run, 0L as best),"
        " (a, x) -> struct(x as prev,"
        "   if(x = a.prev, a.run + 1, 1L) as run,"
        "   greatest(a.best, if(x = a.prev, a.run + 1, 1L)) as best),"
        " a -> a.best)"
    )
    per = base.select(
        "doc_id",
        F.size("t").cast("long").alias("tot1"),
        F.size(F.array_distinct("t")).cast("long").alias("d1"),
        F.size("big").cast("long").alias("tot2"),
        maxrun.alias("max2"),
        F.size("tri").cast("long").alias("tot3"),
        F.size(F.array_distinct("tri")).cast("long").alias("d3"),
    )
    return per.select(
        "doc_id",
        F.expr(
            "CAST(COALESCE((max2 * 1000000) div NULLIF(tot2, 0), 0) AS BIGINT)"
        ).alias("top_bigram_frac_micros"),
        F.expr(
            "CAST(COALESCE(((tot3 - d3) * 1000000) div NULLIF(tot3, 0), 0) AS BIGINT)"
        ).alias("dup_trigram_frac_micros"),
        F.expr("CAST((d1 * 1000000) div tot1 AS BIGINT)").alias(
            "unique_token_ratio_micros"
        ),
    )


def hashed_features(
    docs: DataFrame,
    *,
    n_dims: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing (hashing-trick) vectorizer: each token maps to a
    dimension via its first md5 nibble and a ±1 sign via its second
    nibble's parity (Weinberger et al., ICML 2009 — the signed variant
    keeps hash collisions unbiased in expectation). Emits SPARSE rows
    (doc_id, dim, weight): map-side token hashing + ONE keyed agg, no
    vocabulary, no broadcast dictionary — the fixed-dimension
    featurizer that never needs a fit pass, which is what lets a
    quality classifier featurize a 100 TB crawl in a single scan.
    ``n_dims`` must divide 16 for the nibble mapping (16 uses it
    directly)."""
    assert 16 % n_dims == 0
    toks = docs.select(
        "doc_id", F.explode(F.split(text_col, " ")).alias("tok")
    )
    md5 = F.md5(F.col("tok").cast("binary"))
    nib1 = F.instr(F.lit("0123456789abcdef"), F.substring(md5, 1, 1)) - 1
    nib2 = F.instr(F.lit("0123456789abcdef"), F.substring(md5, 2, 1)) - 1
    return (
        toks.select(
            "doc_id",
            (nib1 % n_dims).cast("int").alias("dim"),
            F.when(nib2 % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("s"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").cast("long").alias("weight"))
    )


_FH_NIB1_SQL = "(instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1)"
_FH_NIB2_SQL = "(instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)"


@register(
    "q130_feature_hashing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT doc_id,
       CAST({_FH_NIB1_SQL} % 16 AS INTEGER) AS dim,
       CAST(SUM(CASE WHEN {_FH_NIB2_SQL} % 2 = 0 THEN 1 ELSE -1 END)
            AS BIGINT) AS weight
FROM toks GROUP BY doc_id, dim
""",
    doc="Hashing-trick document vectorizer (signed feature hashing, 16 "
    "dims): tokens hash to (dimension, ±1 sign) through two md5 "
    "nibbles, summed per (doc, dim) — sparse fixed-width features with "
    "NO vocabulary build, no fit pass, no dictionary broadcast. The "
    "plan is explode + one map-side-combinable keyed aggregation; at "
    "100 TB that is a single scan plus one doc-keyed shuffle, and the "
    "output feeds quality/langid classifiers whose feature space never "
    "drifts as the corpus grows. The md5-nibble hash is the same "
    "portable construction as the q80 hash-split, so Spark and DuckDB "
    "agree bit-for-bit.",
)
def q130_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hashed_features(load(spark, sf_dir, "documents"))


# --- Iterative BPE training -------------------------------------------
#
# q116 counts ONE merge iteration's candidates; these helpers run the
# actual training loop. Scale shape (the same one production BPE
# trainers use): the corpus collapses ONCE to the word-frequency table,
# and every iteration after that touches only that vocabulary-bounded
# relation — pair counting is an explode + keyed agg over it, the
# winning pair is a 1-row argmax, and applying the merge is a row-local
# string replace. Symbols are stored WRAPPED ('‹sym›‹sym›…'): the
# sentinels make `replace(word_str, '‹a›‹b›', '‹ab›')` an exact greedy
# left-to-right non-overlapping BPE merge with no false matches inside
# multi-char symbols (both engines' replace() is non-overlapping L2R,
# and neither sentinel can occur inside a symbol).

_BPE_SYMS = "split(regexp_replace(word_str, '^‹|›$', ''), '›‹')"


def _bpe_word_table(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.expr("concat('‹', array_join(split(word, ''), '›‹'), '›')").alias(
                "word_str"
            ),
            "n",
        )
    )


def _bpe_top_pair(wc: DataFrame) -> DataFrame:
    pairs = shifted(F.expr(_BPE_SYMS), sym_a=0, sym_b=1)
    return (
        wc.select(F.explode(pairs).alias("p"), "n")
        .select("p.sym_a", "p.sym_b", "n")
        .groupBy("sym_a", "sym_b")
        .agg(F.sum("n").cast("long").alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), "sym_a", "sym_b")
        .limit(1)
    )


def _bpe_apply(wc: DataFrame, top: DataFrame) -> DataFrame:
    return wc.crossJoin(F.broadcast(top.select("sym_a", "sym_b"))).select(
        F.expr(
            "replace(word_str, concat('‹', sym_a, '›‹', sym_b, '›'),"
            " concat('‹', sym_a, sym_b, '›'))"
        ).alias("word_str"),
        "n",
    )


def _bpe_merges(wc: DataFrame, n_merges: int) -> tuple[DataFrame, list[DataFrame]]:
    """The one BPE merge loop: (word table, n_merges) -> (word table
    after every merge, the per-step top pairs). Each round checkpoints
    the word table it reads and its 1-row top pair; the last merge is
    applied lazily, so a caller that only wants the merges
    (:func:`bpe_train`) pays no action for it."""
    tops = []
    for _ in range(n_merges):
        wc = wc.localCheckpoint(eager=True)
        tops.append(_bpe_top_pair(wc).localCheckpoint(eager=True))
        wc = _bpe_apply(wc, tops[-1])
    return wc, tops


def bpe_train(docs: DataFrame, n_merges: int) -> DataFrame:
    """Train ``n_merges`` BPE merges over the corpus; returns the merge
    table (step, sym_a, sym_b, n_pair) in training order. Ties break
    deterministically (count desc, then lexicographic), so training is
    reproducible across runs and engines. Each iteration's word table
    is locally checkpointed to keep lineage flat across merges."""
    _, tops = _bpe_merges(_bpe_word_table(docs), n_merges)
    steps = [t.withColumn("step", F.lit(k).cast("int")) for k, t in enumerate(tops, 1)]
    return reduce(DataFrame.unionByName, steps).select("step", "sym_a", "sym_b", "n_pair")


def _bpe_oracle(n_merges: int) -> str:
    syms = "string_split(regexp_replace(word_str, '^‹|›$', '', 'g'), '›‹')"
    parts = [
        """wc0 AS (
  SELECT ('‹' || array_to_string(string_split(word, ''), '›‹') || '›') AS word_str, n
  FROM (SELECT tok AS word, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok)
)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""m{k} AS (
  SELECT sym_a, sym_b, CAST(SUM(n) AS BIGINT) AS n_pair FROM (
    SELECT s.syms[CAST(t.i + 1 AS INTEGER)] AS sym_a,
           s.syms[CAST(t.i + 2 AS INTEGER)] AS sym_b, s.n
    FROM (SELECT {syms} AS syms, n FROM wc{k - 1}) s,
         unnest(range(len(s.syms) - 1)) AS t(i)
    WHERE len(s.syms) >= 2)
  GROUP BY sym_a, sym_b ORDER BY n_pair DESC, sym_a, sym_b LIMIT 1
)"""
        )
        if k < n_merges:
            parts.append(
                f"""wc{k} AS (
  SELECT replace(word_str, '‹' || m.sym_a || '›‹' || m.sym_b || '›',
                 '‹' || m.sym_a || m.sym_b || '›') AS word_str, n
  FROM wc{k - 1}, m{k} m
)"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, sym_a, sym_b, n_pair FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


@register(
    "q131_bpe_train3",
    oracle=_bpe_oracle(3),
    doc="BPE tokenizer TRAINING, first three merges end-to-end — the "
    "iterative loop q116 only previews. One corpus pass builds the "
    "word-frequency table; each merge is then an explode + keyed agg "
    "over that vocabulary-bounded relation, a 1-row argmax "
    "(deterministic tiebreak: count desc, lexicographic), and a "
    "row-local greedy left-to-right merge applied via sentinel-wrapped "
    "symbol strings (replace() cannot false-match inside multi-char "
    "symbols). The oracle unrolls the same three iterations as chained "
    "CTEs, so the full training trajectory — not just one step — is "
    "hash-checked across engines. At 100 TB the corpus is read once; "
    "the loop's working set is the vocabulary.",
)
def q131_bpe_train3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train(load(spark, sf_dir, "documents"), 3)


def bpe_vocab(docs: DataFrame, n_merges: int, top: int = 20) -> DataFrame:
    """The learned subword vocabulary: apply ``n_merges`` trained merges
    to the word table, then rank the resulting symbols by corpus
    frequency. This is the artifact a tokenizer ships — after training,
    encoding any text is a row-local chain of the learned replaces."""
    wc, _ = _bpe_merges(_bpe_word_table(docs), n_merges)
    return (
        wc.select(F.explode(F.expr(_BPE_SYMS)).alias("symbol"), "n")
        .groupBy("symbol")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "symbol")
        .limit(top)
    )


def _bpe_vocab_oracle(n_merges: int, top: int = 20) -> str:
    syms = "string_split(regexp_replace(word_str, '^‹|›$', '', 'g'), '›‹')"
    # reuse the training chain, then rank symbols of the final word table
    chain = _bpe_oracle(n_merges)
    with_block = chain[: chain.rindex(")") + 1]  # strip the UNION tail
    return f"""{with_block},
wcf AS (
  SELECT replace(word_str, '‹' || m.sym_a || '›‹' || m.sym_b || '›',
                 '‹' || m.sym_a || m.sym_b || '›') AS word_str, n
  FROM wc{n_merges - 1}, m{n_merges} m
)
SELECT symbol, CAST(SUM(n) AS BIGINT) AS n_occurrences FROM (
  SELECT unnest({syms}) AS symbol, n FROM wcf)
GROUP BY symbol ORDER BY n_occurrences DESC, symbol LIMIT {top}
"""


@register(
    "q132_bpe_vocab",
    oracle=_bpe_vocab_oracle(3),
    doc="The subword vocabulary a 3-merge BPE run produces: train the "
    "merges (q131's loop), apply them to the word-frequency table, and "
    "rank the resulting symbols by corpus occurrence — the shippable "
    "tokenizer artifact. Same scale shape as training: after the one "
    "corpus pass everything is vocabulary-bounded, and the final "
    "ranking is a combinable agg with a top-k tail.",
)
def q132_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_vocab(load(spark, sf_dir, "documents"), 3)


def bpe_encode_counts(docs: DataFrame, n_merges: int) -> DataFrame:
    """Tokenize the corpus with the trained BPE and report per-doc
    subword counts: (doc_id, n_words, n_subwords, n_chars). Encoding at
    scale is a VOCABULARY JOIN, not per-doc retraining — the merged
    word table (word -> its subword segmentation) is tiny, so each
    document row just joins its words to the precomputed map and sums
    symbol counts. n_subwords/n_chars is the compression the tokenizer
    achieves, a standard corpus-quality signal."""
    wc, _ = _bpe_merges(_bpe_word_table(docs), n_merges)
    seg = wc.select(
        F.expr(f"array_join({_BPE_SYMS}, '')").alias("word"),
        F.expr(f"size({_BPE_SYMS})").alias("n_sub"),
        F.length(F.expr(f"array_join({_BPE_SYMS}, '')")).alias("n_chr"),
    )
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        words.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
            F.sum("n_chr").cast("long").alias("n_chars_tok"),
        )
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    syms = "string_split(regexp_replace(word_str, '^‹|›$', '', 'g'), '›‹')"
    chain = _bpe_oracle(n_merges)
    with_block = chain[: chain.rindex(")") + 1]
    return f"""{with_block},
wcf AS (
  SELECT replace(word_str, '‹' || m.sym_a || '›‹' || m.sym_b || '›',
                 '‹' || m.sym_a || m.sym_b || '›') AS word_str, n
  FROM wc{n_merges - 1}, m{n_merges} m
),
seg AS (
  SELECT array_to_string({syms}, '') AS word,
         len({syms}) AS n_sub,
         length(array_to_string({syms}, '')) AS n_chr
  FROM wcf
)
SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(s.n_sub) AS BIGINT) AS n_subwords,
       CAST(SUM(s.n_chr) AS BIGINT) AS n_chars_tok
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) w
JOIN seg s USING (word)
GROUP BY w.doc_id
"""


@register(
    "q133_bpe_encode",
    oracle=_bpe_encode_oracle(3),
    doc="Apply the trained BPE to the corpus: per-doc word / subword / "
    "character counts after 3 merges. The segmentation map (word -> "
    "symbol count) is derived once from the merged word table and "
    "BROADCAST onto the exploded corpus — tokenizing 100 TB is a "
    "broadcast vocabulary join plus one doc-keyed combinable agg, "
    "never per-document merge replay. n_subwords/n_chars is the "
    "compression-ratio quality signal.",
)
def q133_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_encode_counts(load(spark, sf_dir, "documents"), 3)


def probe_doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, y, score): every document's linear-probe margin under
    the one-pass integer training step (see :func:`linear_probe_langid`
    for the closed-form derivation), with label y = 1 iff lang='en' and
    score coalesced to 0 for docs contributing no features. The single
    copy of the probe-scoring semantics — q134 (per-language summary)
    and q137 (AUC evaluation) both compose it, mirroring the q107/q109
    single-copy-of-the-LM pattern."""
    feats = hashed_features(docs)
    y = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    # the labeled feature relation feeds BOTH the gradient and the
    # scoring pass; without a materialization point Catalyst plans two
    # independent subtrees (two full featurization scans of the corpus
    # per consumer — 8 source scans in q137's plan). A LAZY
    # localCheckpoint makes it a shared leaf computed once (reliable
    # checkpoint on a cluster).
    fy = feats.join(y, "doc_id").localCheckpoint(eager=False)
    w = (
        fy.groupBy("dim")
        .agg(
            F.sum((F.lit(1) - 2 * F.col("y")) * F.col("weight"))
            .cast("long")
            .alias("g2")
        )
        .select("dim", (-F.col("g2")).alias("w"))
    )
    scores = (
        fy.join(F.broadcast(w), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("weight") * F.col("w")).cast("long").alias("score"))
    )
    return y.join(scores, "doc_id", "left").select(
        "doc_id",
        "y",
        F.coalesce(F.col("score"), F.lit(0)).cast("long").alias("score"),
    )


#: the q134 oracle's probe CTE chain, factored so q137's AUC oracle
#: composes the identical scoring semantics (one copy, two consumers).
_PROBE_CTES = f"""toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
feats AS (
  SELECT doc_id, CAST({_FH_NIB1_SQL} % 16 AS INTEGER) AS dim,
         CAST(SUM(CASE WHEN {_FH_NIB2_SQL} % 2 = 0 THEN 1 ELSE -1 END)
              AS BIGINT) AS weight
  FROM toks GROUP BY doc_id, dim
),
lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents
),
w AS (
  SELECT dim, CAST(-SUM((1 - 2 * y) * weight) AS BIGINT) AS w
  FROM feats JOIN lab USING (doc_id) GROUP BY dim
),
scores AS (
  SELECT doc_id, CAST(SUM(weight * w) AS BIGINT) AS score
  FROM feats JOIN w USING (dim) GROUP BY doc_id
)"""


def linear_probe_langid(docs: DataFrame) -> DataFrame:
    """One-pass linear probe on hashed features: the first logistic-
    regression gradient step from w=0 (where sigmoid(0)=1/2 exactly, so
    the step is CLOSED-FORM and integer: g_d = sum((1-2y)*x_d) in
    half-units), then score every doc with the resulting weights and
    report per-language totals. This is the quality/langid-classifier
    training shape at 100 TB: the gradient is a map-side-combinable agg
    onto n_dims keys, the 16-dim weight vector broadcasts back, and
    evaluation is one more scan — no iterative driver loop, no floats,
    bit-reproducible anywhere."""
    scores = probe_doc_scores(docs).select("doc_id", "score")
    return (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("score"), F.lit(0)))
            .cast("long")
            .alias("sum_score"),
            F.sum(
                F.when(F.coalesce(F.col("score"), F.lit(0)) > 0, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_pred_en"),
        )
    )


@register(
    "q134_linear_probe_langid",
    oracle=f"""
WITH {_PROBE_CTES}
SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(COALESCE(s.score, 0)) AS BIGINT) AS sum_score,
       CAST(SUM(CASE WHEN COALESCE(s.score, 0) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pred_en
FROM documents d LEFT JOIN scores s USING (doc_id)
GROUP BY d.lang
""",
    doc="Linear-probe language classifier trained in ONE pass over "
    "hashed features (q130): from w=0 the first logistic gradient step "
    "is closed-form and all-integer (sigmoid(0)=1/2 exactly), the "
    "16-dim weight vector broadcasts back onto the corpus, and one "
    "more scan scores and evaluates per language. No floats anywhere, "
    "so training is bit-reproducible across engines and cluster "
    "layouts — the fixed-feature-space classifier loop a 100 TB "
    "curation stack runs continuously. (On the synthetic corpus the "
    "lang label is not derived from the text, so the probe's scores do "
    "not separate classes here — the catalog checks the distributed "
    "training computation, not model quality.)",
)
def q134_linear_probe_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linear_probe_langid(load(spark, sf_dir, "documents"))


@register(
    "q139_tokenizer_fertility",
    oracle=f"""
WITH enc AS ({_bpe_encode_oracle(3)})
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(e.n_words) AS BIGINT) AS n_words,
       CAST(SUM(e.n_subwords) AS BIGINT) AS n_subwords,
       CAST((CAST(SUM(e.n_subwords) AS BIGINT) * 1000000)
         // NULLIF(CAST(SUM(e.n_words) AS BIGINT), 0) AS BIGINT)
         AS fertility_micros,
       CAST((CAST(SUM(e.n_chars_tok) AS BIGINT) * 1000000)
         // NULLIF(CAST(SUM(e.n_subwords) AS BIGINT), 0) AS BIGINT)
         AS chars_per_subword_micros
FROM enc e JOIN documents d USING (doc_id)
GROUP BY d.lang
""",
    doc="Tokenizer fertility by language: subwords-per-word and "
    "chars-per-subword (micro-units) of the 3-merge BPE (q131-q133) "
    "per lang — THE standard tokenizer-equity metric (a language whose "
    "fertility is 2x pays 2x the sequence length for the same text). "
    "Composes q133's encode (broadcast vocabulary join + one doc-keyed "
    "agg) with a lang-keyed rollup: the corpus-scale work is exactly "
    "q133's; the fertility table adds one combinable agg on a "
    "handful-of-languages key. Integer micro-unit ratios with NULLIF "
    "guards keep both engines bit-identical (and agreeing on NULL for "
    "an empty language).",
)
def q139_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    enc = bpe_encode_counts(d, 3)
    return (
        enc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_subwords").cast("long").alias("n_subwords"),
            F.expr(
                "(sum(n_subwords) * 1000000) div NULLIF(sum(n_words), 0)"
            ).alias("fertility_micros"),
            F.expr(
                "(sum(n_chars_tok) * 1000000) div NULLIF(sum(n_subwords), 0)"
            ).alias("chars_per_subword_micros"),
        )
    )


@register(
    "q152_lexical_diversity",
    oracle="""
WITH tc AS (
  SELECT d.source, t.tok, COUNT(*) AS n
  FROM (SELECT doc_id, source FROM documents) d
  JOIN (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents) t USING (doc_id)
  GROUP BY d.source, t.tok
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) * 1000000 // SUM(n) AS BIGINT) AS ttr_ppm,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS hapax_ppm
FROM tc GROUP BY source
""",
    doc="Lexical-diversity profile per source: type-token ratio and "
    "hapax-legomenon share (both ppm) — the vocabulary-richness "
    "signals that expose template-generated or boilerplate-heavy "
    "sources (low TTR, low hapax share) before they flood a training "
    "mix. One explode into a (source, token)-keyed combinable count, "
    "then a source rollup that folds the per-type relation — the "
    "corpus is touched once; no distinct-count sketch needed because "
    "the exact type table IS the intermediate.",
)
def q152_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tc.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
        F.expr("count(1) * 1000000 div sum(n)").cast("long").alias("ttr_ppm"),
        F.expr(
            "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 div count(1)"
        )
        .cast("long")
        .alias("hapax_ppm"),
    )


_BM25_TERMS = ("dup", "vector", "key")


@register(
    "q170_bm25_scores",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
lens AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN {str(tuple(_BM25_TERMS))}
  GROUP BY doc_id, tok
),
idf AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tl
  FROM lens
)
SELECT tf.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(
         (((tot.n - idf.df) * 1000000) // (idf.df + 1))
         * 22 * tf.tf * tot.tl
         // (10 * tf.tf * tot.tl + 3 * tot.tl + 9 * lens.dl * tot.n)
       ) AS BIGINT) AS score_micros
FROM tf
JOIN lens USING (doc_id)
JOIN idf USING (tok)
CROSS JOIN tot
GROUP BY tf.doc_id
""",
    doc="BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query "
    "over the corpus — the retrieval-quality primitive a curation "
    "pipeline uses to pull topic-relevant training documents. All "
    "arithmetic is integer-staged for cross-engine exactness: with "
    "k1=12/10 and b=3/4, the per-term saturation tf*(k1+1)/(tf + "
    "k1*(1-b+b*dl/avgdl)) reduces to the pure-integer ratio "
    "22*tf*TL / (10*tf*TL + 3*TL + 9*dl*N) (avgdl=TL/N cleared by "
    "multiplying through by N), and idf uses the rational surrogate "
    "(N-df)*1e6 div (df+1) — monotone in df like the log form, but "
    "hash-identical across engines (a float ln could drift an ulp). "
    "Plan: the corpus explode is filtered to the query terms AT the "
    "generate (pushdown), so the tf relation is query-sized; df and "
    "the corpus totals come back as broadcasts; doc length is a "
    "row-local split — no second corpus shuffle. BIGINT stages hold "
    "to ~1e13 corpus tokens; beyond that route the products through "
    "DECIMAL(38,0) unchanged.",
)
def q170_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    terms = list(_BM25_TERMS)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    lens = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    tf = (
        toks.where(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    idf = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    tot = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("tl"),
    )
    scored = (
        tf.join(lens, "doc_id")
        .join(F.broadcast(idf), "tok")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "term_score",
            F.expr(
                "(((n - df) * 1000000) div (df + 1)) * 22 * tf * tl"
                " div (10 * tf * tl + 3 * tl + 9 * dl * n)"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("term_score").cast("long").alias("score_micros"),
    )


# --- round 12: frequency-weighted diversity + rank-frequency fit ---------


@register(
    "q234_simpson_diversity",
    oracle="""
WITH toks AS (
  SELECT d.source, unnest(string_split(d.text, ' ')) AS tok FROM documents d
),
c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok),
per AS (
  SELECT source, SUM(c) AS s, SUM(c * c) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM c GROUP BY source
)
SELECT source, n_types,
       CAST(((s * s - sq) * 1000000) // (s * s) AS BIGINT) AS simpson_ppm
FROM per
""",
    doc="Per-source Gini-Simpson token diversity (1 - sum p_i^2, integer "
    "ppm): the probability two tokens drawn from the source differ — "
    "the frequency-WEIGHTED complement of q152's type-token ratio and "
    "q225's distinct-shingle share (those collapse when rare types "
    "pad a degenerate source; Simpson ignores the tail and catches a "
    "source dominated by a few tokens even when its type count looks "
    "healthy). No logs, so it is the entropy-family diagnostic that "
    "stays integer-exact across engines. Scale posture: one corpus "
    "pass to (source, tok) counts (map-side combinable), one "
    "vocab-sized per-source aggregate; sum-of-squares and the squared "
    "total are staged in DECIMAL(38,0) (the q202 discipline — BIGINT "
    "c^2 sums wrap near 3e9-token sources; decimals carry to ~1e19).",
)
def q234_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    c = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per = c.groupBy("source").agg(
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
        ).alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    return per.select(
        "source",
        "n_types",
        F.expr("cast(((s * s - sq) * 1000000) div (s * s) as bigint)").alias(
            "simpson_ppm"
        ),
    )


@register(
    "q235_zipf_fit",
    oracle="""
WITH toks AS (
  SELECT d.source, unnest(string_split(d.text, ' ')) AS tok FROM documents d
),
c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM toks GROUP BY source, tok),
ranked AS (
  SELECT source, freq,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY freq DESC, tok) AS rnk
  FROM c
),
pts AS (
  SELECT source,
         CAST(length(bin(rnk)) - 1 AS BIGINT) AS x,
         CAST(length(bin(freq)) - 1 AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts GROUP BY source
)
SELECT source, CAST(n AS BIGINT) AS n_types,
       CAST(((n * sxy - sx * sy) * 1000000)
            // NULLIF(n * sxx - sx * sx, 0) AS BIGINT) AS slope_micros
FROM s
""",
    doc="Per-source Zipf rank-frequency fit: least-squares slope of "
    "floor(log2 freq) against floor(log2 rank) in integer micros — "
    "natural text sits near -1e6 (Zipf's law); generated/templated "
    "sources flatten toward 0 and token-salad sources steepen. The "
    "log2s are INTEGER bit lengths (length(bin(x)) - 1 in both "
    "engines), and the regression is the closed-form integer "
    "cross-moment formula, so the fit is cross-engine exact — no "
    "float log anywhere. Scale posture: one corpus pass to (source, "
    "tok) counts, a per-source rank window over the VOCAB-sized count "
    "relation (never the corpus; at web scale pre-aggregate to "
    "(freq, count-of-types) and rank by prefix sums — same points), "
    "then one combinable moment aggregate per source.",
)
def q235_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    c = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("freq").desc(), F.col("tok")
    )
    pts = c.select(
        "source",
        (F.length(F.bin(F.row_number().over(w))) - 1)
        .cast("long")
        .alias("x"),
        (F.length(F.bin("freq")) - 1).cast("long").alias("y"),
    )
    s = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_types"),
        F.expr(
            "cast(((n * sxy - sx * sy) * 1000000)"
            " div nullif(n * sxx - sx * sx, 0) as bigint)"
        ).alias("slope_micros"),
    )
