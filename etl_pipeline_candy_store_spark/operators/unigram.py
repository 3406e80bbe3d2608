"""Unigram-LM (SentencePiece-style) tokenizer: integer Viterbi + hard-EM.

The OTHER production tokenizer family beside BPE (q131-q133): Kudo's
unigram language model segments each word into the vocabulary pieces
maximizing the segmentation's likelihood, and training alternates
Viterbi segmentation (E) with piece-frequency re-estimation (M). This
module implements the pipeline-shaped core with every stage INTEGER so
Spark and DuckDB replay bit-identically (the q202 DSIR lesson: stage
log-likelihoods as integer log2 bins, never raw doubles):

- **Seed vocabulary**: every substring of length 1..4 of every distinct
  word, counted with corpus word frequencies — the standard
  substring-seeded initial vocab. A piece's score is the integer log2
  bin of its count (``length(bin(c))`` = floor(log2 c)+1, identical
  string function in both engines), and the per-piece likelihood weight
  is ``score - B`` where ``B`` is the log2 bin of the total seed mass —
  the integer staging of ``log p(piece) = log c - log total``. Since
  every length-1 substring of a word is in the vocab by construction,
  segmentation is always total.
- **Viterbi DP** (per DISTINCT word, never per document): ``best[i]``
  = max over piece lengths l=1..4 of ``best[i-l] + w(word[i-l+1..i])``,
  compared by (weight desc, piece-count asc) — the fewest-pieces
  tie-break keeps the argmax unique enough to hash. Runs as a row-local
  JVM ``aggregate`` fold over the word's positions (the q162/q163
  bounded-recursion strategy; state = the growing best[] array), so the
  whole DP is ONE pass over the vocabulary-bounded distinct-word table.
  The oracle unrolls the same DP positionally as chained CTEs
  (dp1..dp16) — words longer than 16 chars are excluded from training
  and encoding in BOTH engines (corpus max is 8; probe replicas reach
  12), so the unroll bound is semantics, not accident.
- **Encoding** (q206) is a BROADCAST JOIN of the per-word (pieces,
  weight) result onto the exploded corpus plus one doc-keyed combinable
  agg — tokenizing 100 TB never re-runs the DP per document (the q133
  encode shape).
- **Hard-EM step** (q207): extract each word's Viterbi segmentation by
  backward walk over best[] (at each position take the LONGEST piece l
  whose (v, k) reconstructs the recorded optimum — deterministic given
  best[], so Spark's fold and the oracle's choice-table agree exactly),
  count corpus-weighted piece usage, and re-bin scores from the usage
  counts. Pieces the Viterbi never uses drop out — the EM prune that
  shrinks the seed vocab toward the final tokenizer.
- **Fertility comparison** (q208): corpus pieces-per-word of this
  unigram tokenizer vs the 3-merge BPE (q133/q139), side by side in
  integer micros — the standard which-tokenizer-compresses-better
  signal.
- **Full EM cycle** (q212): usage re-binning + prune, then the corpus
  re-encoded under the iteration-2 vocabulary — the composition a real
  SentencePiece trainer iterates; the pruned DP is partial, handled by
  NULL propagation in the fold and row absence in the oracle chain.

Reference anchor: the reference repo has no tokenizer training at all
(its text surface is driver-side row loops, /root/reference/src/
data_processor.py); this family is part of the training-data extension
surface alongside BPE (SURVEY.md §2 text-analysis rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.dedup import fixpoint
from etl_pipeline_candy_store_spark.plans.catalog import load, register

_MAXW = 16  # words longer are excluded from training AND encoding
_MAXP = 4   # max piece length

# --- Spark-side expression builders -----------------------------------

#: all (end position i, length l, piece) substring occurrences of `word`
_OCC = f"""
flatten(transform(sequence(1, length(word)), s ->
  filter(transform(sequence(1, {_MAXP}), l ->
    IF(s + l - 1 <= length(word),
       named_struct('i', CAST(s + l - 1 AS BIGINT), 'l', CAST(l AS BIGINT),
                    'p', substring(word, s, l)),
       CAST(NULL AS STRUCT<i: BIGINT, l: BIGINT, p: STRING>))),
    x -> x IS NOT NULL)))
"""


def _cand(lf: int) -> str:
    """DP candidate at fold step i: extend best[i-l] with the length-l
    piece ending at i, NULL when the piece is absent (under the SEED
    vocab only possible for l >= 2; under an EM-pruned vocab any piece
    can be missing), when i < l, or when position i-l is itself
    unreachable (null best — possible only under a pruned vocab).
    Piece weights ride in map ``m`` keyed i*8+l."""
    key = f"CAST(i*8+{lf} AS INT)"
    prev = f"element_at(acc, CAST(i-{lf}+1 AS INT))"
    return (
        f"IF(i >= {lf} AND try_element_at(m, {key}) IS NOT NULL"
        f" AND {prev} IS NOT NULL, "
        f"named_struct('v', {prev}.v + try_element_at(m, {key}), "
        f"'k', {prev}.k + CAST(1 AS BIGINT)), "
        f"CAST(NULL AS STRUCT<v: BIGINT, k: BIGINT>))"
    )


#: forward Viterbi: best[] as a growing array, candidates compared by
#: (v desc, k asc). Under the seed vocab l=1 always exists so every
#: position is reachable; under an EM-pruned vocab a position with no
#: candidates records NULL (try_element_at on the empty candidate
#: array), which propagates — a word whose final position is NULL is
#: unsegmentable under that vocab. The zero MUST be cast to the DDL
#: array type: a bare array(named_struct(...)) infers containsNull =
#: false for the accumulator, and serializing a pruned-vocab best[]
#: with NULL entries then NPEs in the unsafe row writer.
_BEST = f"""
aggregate(
  sequence(1, length(word)),
  CAST(array(named_struct('v', CAST(0 AS BIGINT), 'k', CAST(0 AS BIGINT)))
       AS ARRAY<STRUCT<v: BIGINT, k: BIGINT>>),
  (acc, i) -> array_append(acc,
    try_element_at(
      array_sort(
        filter(array({_cand(1)}, {_cand(2)}, {_cand(3)}, {_cand(4)}),
               x -> x IS NOT NULL),
        (a, b) -> CASE WHEN a.v > b.v THEN -1 WHEN a.v < b.v THEN 1
                       WHEN a.k < b.k THEN -1 WHEN a.k > b.k THEN 1
                       ELSE 0 END),
      1)))
"""


def _bt_cond(lf: int) -> str:
    """True when the length-l piece ending at acc.pos reconstructs the
    recorded optimum (both v and k must match — a same-v candidate with
    more pieces was NOT the forward argmax)."""
    key = f"CAST(acc.pos*8+{lf} AS INT)"
    prev = f"element_at(best, CAST(acc.pos-{lf}+1 AS INT))"
    cur = "element_at(best, CAST(acc.pos+1 AS INT))"
    return (
        f"(acc.pos >= {lf} AND try_element_at(m, {key}) IS NOT NULL"
        f" AND {prev}.v + try_element_at(m, {key}) = {cur}.v"
        f" AND {prev}.k + CAST(1 AS BIGINT) = {cur}.k)"
    )


_CHOSEN = (
    f"CASE WHEN {_bt_cond(4)} THEN 4 WHEN {_bt_cond(3)} THEN 3 "
    f"WHEN {_bt_cond(2)} THEN 2 ELSE 1 END"
)

#: backward extraction: walk best[] from the end, always taking the
#: longest reconstructing piece; each step consumes >= 1 char so the
#: length(word)-step fold always reaches pos 0 (no-op afterwards)
_BT = f"""
aggregate(
  sequence(1, length(word)),
  named_struct('pos', CAST(length(word) AS BIGINT),
               'ps', CAST(array() AS ARRAY<STRING>)),
  (acc, step) -> IF(acc.pos <= 0, acc,
    named_struct(
      'pos', acc.pos - CAST(({_CHOSEN}) AS BIGINT),
      'ps', array_append(acc.ps,
        substring(word, CAST(acc.pos - ({_CHOSEN}) + 1 AS INT), ({_CHOSEN}))))),
  acc -> acc.ps)
"""


def _word_table(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter((F.length("word") >= 1) & (F.length("word") <= _MAXW))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _occurrences(words: DataFrame) -> DataFrame:
    return words.select(
        "word", "n", F.explode(F.expr(_OCC)).alias("o")
    ).select("word", "n", "o.i", "o.l", "o.p")


def seed_vocab(
    words: DataFrame, occ: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """(vocab, scored): substring seed counts and their integer
    likelihood weights w = bin_len(c) - bin_len(total). ``occ`` lets a
    caller that already materialized the occurrence relation share it."""
    if occ is None:
        occ = _occurrences(words)
    vocab = occ.groupBy("p").agg(F.sum("n").cast("long").alias("c"))
    tot = vocab.agg(F.sum("c").cast("long").alias("tc"))
    scored = vocab.crossJoin(F.broadcast(tot)).select(
        "p",
        "c",
        (F.length(F.bin("c")) - F.length(F.bin("tc"))).cast("long").alias("w"),
    )
    return vocab, scored


def _dp_with_scores(
    words: DataFrame, scored: DataFrame, occ: DataFrame | None = None
) -> DataFrame:
    """Solve the Viterbi DP for every distinct word against an ARBITRARY
    scored piece vocab (p, w): (word, n, m, best). Pieces absent from
    ``scored`` are unavailable to the DP — under the seed vocab every
    position is reachable; under an EM-pruned vocab a word may come out
    unsegmentable (final best NULL) and downstream consumers drop it.

    ``occ`` is the (static, vocab-bounded) occurrence relation of
    ``words`` — callers that run the DP more than once (q212's two
    passes, q219's per-EM-iteration pass) materialize it ONCE and pass
    it in, so the substring explode is not re-derived per pass (r16,
    guide §2.4: don't recompute what an iteration loop can share)."""
    if occ is None:
        occ = _occurrences(words)
    wm = (
        occ.join(F.broadcast(scored.select("p", "w")), "p")
        .groupBy("word")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("i") * 8 + F.col("l")).cast("int").alias("key"),
                        F.col("w").alias("value"),
                    )
                )
            ).alias("m")
        )
    )
    return words.join(wm, "word").withColumn("best", F.expr(_BEST))


def _dp_bundle(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(words, occ, scored, dp): the checkpointed word table, its
    checkpointed substring-occurrence relation, the scored seed vocab,
    and every distinct word with its piece-weight map and solved
    Viterbi best[] array. The word table is locally checkpointed ONCE
    (vocabulary-bounded — the bpe_train discipline), so the corpus is
    scanned exactly once for training no matter how many consumers
    derive from it; the occurrence relation (also vocab-bounded, and
    static across EM iterations) is checkpointed beside it so the seed
    count, every DP pass, and every EM iteration read the SAME explode
    instead of re-deriving it (r16)."""
    words = _word_table(docs).localCheckpoint(eager=True)
    occ = _occurrences(words).localCheckpoint(eager=True)
    _, scored = seed_vocab(words, occ)
    return words, occ, scored, _dp_with_scores(words, scored, occ)


def _words_with_dp(docs: DataFrame) -> DataFrame:
    """(word, n, m, best): see :func:`_dp_bundle`."""
    return _dp_bundle(docs)[3]


def unigram_encodings(docs: DataFrame) -> DataFrame:
    """Per distinct word: (word, n, k pieces, v integer log2-bin
    log-likelihood) under the seed-vocab unigram LM."""
    dp = _words_with_dp(docs)
    final = "element_at(best, CAST(length(word)+1 AS INT))"
    return dp.select(
        "word",
        "n",
        F.expr(f"{final}.v").alias("v"),
        F.expr(f"{final}.k").alias("k"),
    )


def unigram_encode_docs(docs: DataFrame) -> DataFrame:
    """Per-doc unigram tokenization counts: the per-word DP result is
    broadcast onto the exploded corpus (never recomputed per document)."""
    enc = unigram_encodings(docs)
    corpus = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (
        corpus.join(F.broadcast(enc.select("word", "v", "k")), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("k").cast("long").alias("n_pieces"),
            F.sum("v").cast("long").alias("ll_bits"),
        )
    )


def _usage(dp: DataFrame) -> DataFrame:
    """E-step: (piece, n_viterbi), the corpus-weighted usage of every
    word's Viterbi pieces (backward extraction over the solved best[])."""
    return (
        dp.select("word", "n", F.explode(F.expr(_BT)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("n_viterbi"))
    )


def _rebin(usage: DataFrame) -> DataFrame:
    """M-step: (p, w) re-binned from usage, w = bin_len(n_viterbi) -
    bin_len(total usage); pieces with no usage drop out (the prune)."""
    utot = usage.agg(F.sum("n_viterbi").cast("long").alias("ut"))
    return usage.crossJoin(F.broadcast(utot)).select(
        F.col("piece").alias("p"),
        (F.length(F.bin("n_viterbi")) - F.length(F.bin("ut"))).cast("long").alias("w"),
    )


def unigram_em_step(docs: DataFrame, top: int = 20) -> DataFrame:
    """One integer-staged hard-EM iteration: Viterbi-segment every
    distinct word (backward extraction over the solved best[]), count
    corpus-weighted piece usage, and re-bin scores from usage. Seed
    pieces the Viterbi never selects vanish (the EM prune)."""
    _, _, scored, dp = _dp_bundle(docs)
    usage = _usage(dp)
    utot = usage.agg(F.sum("n_viterbi").cast("long").alias("ut"))
    return (
        usage.join(
            F.broadcast(scored.select(F.col("p").alias("piece"), "w")), "piece"
        )
        .crossJoin(F.broadcast(utot))
        .select(
            "piece",
            "n_viterbi",
            F.col("w").cast("long").alias("w_old"),
            (F.length(F.bin("n_viterbi")) - F.length(F.bin("ut")))
            .cast("long")
            .alias("w_new"),
        )
        .orderBy(F.col("n_viterbi").desc(), "piece")
        .limit(top)
    )


# --- DuckDB oracle: the identical DP unrolled positionally ------------


def _uni_ctes() -> str:
    """Shared CTE chain: seed vocab + the DP unrolled to _MAXW position
    steps (dp{i} holds best[i] for every word of length >= i), collected
    into alldp and joined back at i = length(word) as enc."""
    parts = [
        f"""words AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) BETWEEN 1 AND {_MAXW} GROUP BY word
)""",
        f"""occ AS MATERIALIZED (
  SELECT w.word, w.n, CAST(ss.s + ll.l - 1 AS BIGINT) AS i,
         CAST(ll.l AS BIGINT) AS l,
         substring(w.word, CAST(ss.s AS INTEGER), CAST(ll.l AS INTEGER)) AS p
  FROM words w,
       (SELECT unnest(range(1, {_MAXW + 1})) AS s) ss,
       (SELECT unnest(range(1, {_MAXP + 1})) AS l) ll
  WHERE ss.s + ll.l - 1 <= length(w.word)
)""",
        "vocab AS MATERIALIZED (SELECT p, CAST(SUM(n) AS BIGINT) AS c FROM occ GROUP BY p)",
        "tot AS MATERIALIZED (SELECT length(bin(CAST(SUM(c) AS BIGINT))) AS bt FROM vocab)",
        """sc AS MATERIALIZED (
  SELECT p, CAST(length(bin(c)) - t.bt AS BIGINT) AS w FROM vocab, tot t
)""",
        """cand AS MATERIALIZED (
  SELECT o.word, o.i, o.l, s.w, o.p FROM occ o JOIN sc s USING (p)
)""",
        """dp0 AS MATERIALIZED (
  SELECT word, CAST(0 AS BIGINT) AS v, CAST(0 AS BIGINT) AS k FROM words
)""",
    ]
    for i in range(1, _MAXW + 1):
        unions = "\n      UNION ALL\n      ".join(
            f"SELECT c.word, d.v + c.w AS v, d.k + 1 AS k "
            f"FROM cand c JOIN dp{i - lf} d ON d.word = c.word "
            f"WHERE c.i = {i} AND c.l = {lf}"
            for lf in range(1, min(_MAXP, i) + 1)
        )
        parts.append(
            f"""dp{i} AS MATERIALIZED (
  SELECT word, v, k FROM (
    SELECT word, v, k,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY v DESC, k ASC) AS rn
    FROM ({unions})
  ) WHERE rn = 1
)"""
        )
    alldp = "\n  UNION ALL ".join(
        f"SELECT word, CAST({i} AS BIGINT) AS i, v, k FROM dp{i}"
        for i in range(1, _MAXW + 1)
    )
    parts.append(
        f"""alldp AS MATERIALIZED (
  SELECT word, CAST(0 AS BIGINT) AS i, v, k FROM dp0
  UNION ALL {alldp}
)"""
    )
    parts.append(
        """enc AS MATERIALIZED (
  SELECT w.word, w.n, d.v, d.k
  FROM words w JOIN alldp d
    ON d.word = w.word AND d.i = CAST(length(w.word) AS BIGINT)
)"""
    )
    return ",\n".join(parts)


def _q206_oracle() -> str:
    return f"""WITH {_uni_ctes()}
SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.k) AS BIGINT) AS n_pieces,
       CAST(SUM(e.v) AS BIGINT) AS ll_bits
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents) x
JOIN enc e ON e.word = x.word
GROUP BY x.doc_id
"""


def _usage_ctes() -> str:
    """The hard-EM usage extraction as CTEs (appended after
    :func:`_uni_ctes`; the ``bt`` backtrack is recursive, so the full
    statement must open WITH RECURSIVE): the choice table records, per
    (word, position), the LONGEST piece reconstructing the recorded
    optimum; the recursive walk emits the chosen pieces; usage
    corpus-weights them."""
    return """choice AS (
  SELECT c.word, c.i AS pos, MAX(c.l) AS l
  FROM cand c
  JOIN alldp dprev ON dprev.word = c.word AND dprev.i = c.i - c.l
  JOIN alldp dcur ON dcur.word = c.word AND dcur.i = c.i
  WHERE dprev.v + c.w = dcur.v AND dprev.k + 1 = dcur.k
  GROUP BY c.word, c.i
),
bt(word, pos) AS (
  SELECT word, CAST(length(word) AS BIGINT) AS pos FROM words
  UNION ALL
  SELECT b.word, b.pos - c.l
  FROM bt b JOIN choice c ON c.word = b.word AND c.pos = b.pos
  WHERE b.pos > 0
),
pieces_used AS (
  SELECT b.word,
         substring(b.word, CAST(b.pos - c.l + 1 AS INTEGER),
                   CAST(c.l AS INTEGER)) AS p
  FROM bt b JOIN choice c ON c.word = b.word AND c.pos = b.pos
),
usage AS MATERIALIZED (
  SELECT p.p AS piece, CAST(SUM(w.n) AS BIGINT) AS n_viterbi
  FROM pieces_used p JOIN words w ON w.word = p.word GROUP BY p.p
),
utot AS MATERIALIZED (
  SELECT length(bin(CAST(SUM(n_viterbi) AS BIGINT))) AS but FROM usage
)"""


def _q207_oracle(top: int = 20) -> str:
    return f"""WITH RECURSIVE {_uni_ctes()},
{_usage_ctes()}
SELECT u.piece, u.n_viterbi,
       CAST(length(bin(v.c)) - t.bt AS BIGINT) AS w_old,
       CAST(length(bin(u.n_viterbi)) - ut.but AS BIGINT) AS w_new
FROM usage u JOIN vocab v ON v.p = u.piece, tot t, utot ut
ORDER BY u.n_viterbi DESC, u.piece LIMIT {top}
"""


def _q208_oracle() -> str:
    from etl_pipeline_candy_store_spark.operators.text import _bpe_encode_oracle

    bpe = _bpe_encode_oracle(3)
    # reuse the BPE encode chain up to (and including) its seg CTE: cut
    # just before the final per-doc SELECT, keeping every CTE intact
    bpe_with = bpe[: bpe.index("\nSELECT w.doc_id")].rstrip().rstrip(",")
    bpe_with = bpe_with.removeprefix("WITH ")
    return f"""WITH {bpe_with},
bpe_tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(s.n_sub) AS BIGINT) AS n_subwords
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
  JOIN seg s USING (word)
),
{_uni_ctes()},
uni_tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(e.k) AS BIGINT) AS n_subwords
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) x
  JOIN enc e ON e.word = x.word
)
SELECT 'bpe3' AS method, n_words, n_subwords,
       CAST((n_subwords * 1000000) // n_words AS BIGINT) AS fert_micros
FROM bpe_tot
UNION ALL
SELECT 'unigram' AS method, n_words, n_subwords,
       CAST((n_subwords * 1000000) // n_words AS BIGINT) AS fert_micros
FROM uni_tot
"""


# --- registered queries ------------------------------------------------


@register(
    "q206_unigram_encode",
    oracle=_q206_oracle(),
    doc="Unigram-LM (SentencePiece-style) tokenization of the corpus: "
    "per-doc word / piece / integer-log-likelihood counts under the "
    "substring-seeded unigram vocabulary. The Viterbi DP (integer "
    "log2-bin piece weights, fewest-pieces tie-break) runs ONCE per "
    "distinct word as a row-local JVM aggregate fold — vocabulary-"
    "bounded like BPE training — and encoding is a broadcast join of "
    "the per-word result onto the exploded corpus plus one doc-keyed "
    "combinable agg. The oracle unrolls the identical DP positionally "
    "(dp1..dp16 chained CTEs; words >16 chars excluded in both "
    "engines), so the full optimization — not just the final counts — "
    "is hash-checked across engines.",
)
def q206_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_encode_docs(load(spark, sf_dir, "documents"))


@register(
    "q207_unigram_em_step",
    oracle=_q207_oracle(),
    doc="One hard-EM training iteration for the unigram tokenizer: "
    "Viterbi-segment every distinct word (backward walk over the "
    "solved best[] taking the longest reconstructing piece — "
    "deterministic given the DP table, so the fold and the oracle's "
    "choice-table replay agree exactly), count corpus-weighted piece "
    "usage, and re-bin integer scores from usage; seed pieces the "
    "Viterbi never uses drop out (the EM prune). Top-20 pieces by "
    "usage with old and re-estimated integer log2-bin weights. Same "
    "vocabulary-bounded scale shape as q206 plus one piece-keyed "
    "combinable agg; the oracle backtracks with a recursive CTE over "
    "the same unrolled DP.",
)
def q207_unigram_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_em_step(load(spark, sf_dir, "documents"))


@register(
    "q208_tokenizer_fertility_compare",
    oracle=_q208_oracle(),
    doc="Tokenizer bake-off: corpus fertility (pieces per word, integer "
    "micros) of the 3-merge BPE (q133's encode) vs the unigram-LM "
    "Viterbi (q206), side by side — the standard which-tokenizer-"
    "compresses-better signal a data team reads before committing a "
    "vocabulary. Both sides are one corpus pass + a broadcast "
    "segmentation join + a global combinable agg; the oracle chains "
    "the BPE merge CTEs and the unigram DP CTEs in one statement.",
)
def q208_tokenizer_fertility_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_pipeline_candy_store_spark.operators.text import bpe_encode_counts

    docs = load(spark, sf_dir, "documents")
    bpe = bpe_encode_counts(docs, 3).agg(
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_subwords").cast("long").alias("n_subwords"),
    )
    uni = unigram_encode_docs(docs).agg(
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_pieces").cast("long").alias("n_subwords"),
    )
    out = bpe.select(F.lit("bpe3").alias("method"), "n_words", "n_subwords").unionByName(
        uni.select(F.lit("unigram").alias("method"), "n_words", "n_subwords")
    )
    return out.select(
        "method",
        "n_words",
        "n_subwords",
        F.expr("CAST((n_subwords * 1000000) div n_words AS BIGINT)").alias(
            "fert_micros"
        ),
    )


# --- Iteration-2: encode under the EM-re-estimated vocab ----------------


def unigram_encode_docs_em2(docs: DataFrame) -> DataFrame:
    """Per-doc tokenization counts under the ITERATION-2 vocabulary:
    run the seed-vocab Viterbi (iteration 1), extract usage (q207's
    E-step), re-bin scores from usage (M-step, pruning unused pieces),
    and Viterbi-encode the corpus again under the re-estimated vocab —
    one full EM cycle applied, the composition q207 only previews.

    Hard-EM invariant (tested): every calibration word stays
    segmentable under the pruned vocab, because each word's own chosen
    pieces have usage >= that word's count; words that would become
    unsegmentable (impossible for calibration words, possible for
    fresh text) are dropped by the final-state NULL filter rather than
    scored wrongly. Scale shape identical to q206: both DP passes are
    per-DISTINCT-word over the once-checkpointed word table, and the
    corpus is touched exactly twice (word-table build + encode join)."""
    words, occ, _, dp1 = _dp_bundle(docs)
    dp2 = _dp_with_scores(words, _rebin(_usage(dp1)), occ)
    final = "try_element_at(best, CAST(length(word)+1 AS INT))"
    enc2 = (
        dp2.select("word", F.expr(final).alias("f"))
        .where(F.col("f").isNotNull())
        .select("word", F.col("f.v").alias("v"), F.col("f.k").alias("k"))
    )
    corpus = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (
        corpus.join(F.broadcast(enc2), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("k").cast("long").alias("n_pieces"),
            F.sum("v").cast("long").alias("ll_bits"),
        )
    )


def _dp2_ctes() -> str:
    """Second DP chain under the usage-re-binned vocab (appended after
    :func:`_usage_ctes`): sc2 scores only the pieces iteration-1
    Viterbi actually used (the EM prune — the inner cand2 join makes
    pruned pieces unavailable), then the same positional unroll.
    dp2_{i} simply has NO row for an unreachable (word, position), so
    the final length-join drops unsegmentable words — the relational
    equivalent of the Spark fold's NULL propagation."""
    parts = [
        """sc2 AS MATERIALIZED (
  SELECT piece AS p,
         CAST(length(bin(n_viterbi)) - ut.but AS BIGINT) AS w
  FROM usage, utot ut
)""",
        """cand2 AS MATERIALIZED (
  SELECT o.word, o.i, o.l, s.w FROM occ o JOIN sc2 s USING (p)
)""",
        """dp2_0 AS MATERIALIZED (
  SELECT word, CAST(0 AS BIGINT) AS v, CAST(0 AS BIGINT) AS k FROM words
)""",
    ]
    for i in range(1, _MAXW + 1):
        unions = "\n      UNION ALL\n      ".join(
            f"SELECT c.word, d.v + c.w AS v, d.k + 1 AS k "
            f"FROM cand2 c JOIN dp2_{i - lf} d ON d.word = c.word "
            f"WHERE c.i = {i} AND c.l = {lf}"
            for lf in range(1, min(_MAXP, i) + 1)
        )
        parts.append(
            f"""dp2_{i} AS MATERIALIZED (
  SELECT word, v, k FROM (
    SELECT word, v, k,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY v DESC, k ASC) AS rn
    FROM ({unions})
  ) WHERE rn = 1
)"""
        )
    alldp2 = "\n  UNION ALL ".join(
        f"SELECT word, CAST({i} AS BIGINT) AS i, v, k FROM dp2_{i}"
        for i in range(1, _MAXW + 1)
    )
    parts.append(
        f"""alldp2 AS MATERIALIZED (
  SELECT word, CAST(0 AS BIGINT) AS i, v, k FROM dp2_0
  UNION ALL {alldp2}
)"""
    )
    parts.append(
        """enc2 AS MATERIALIZED (
  SELECT w.word, w.n, d.v, d.k
  FROM words w JOIN alldp2 d
    ON d.word = w.word AND d.i = CAST(length(w.word) AS BIGINT)
)"""
    )
    return ",\n".join(parts)


def _q212_oracle() -> str:
    return f"""WITH RECURSIVE {_uni_ctes()},
{_usage_ctes()},
{_dp2_ctes()}
SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.k) AS BIGINT) AS n_pieces,
       CAST(SUM(e.v) AS BIGINT) AS ll_bits
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents) x
JOIN enc2 e ON e.word = x.word
GROUP BY x.doc_id
"""


@register(
    "q212_unigram_encode_em2",
    oracle=_q212_oracle(),
    doc="One FULL hard-EM training cycle applied: seed-vocab Viterbi "
    "(q206) -> usage extraction (q207's E-step) -> integer score "
    "re-binning with unused-piece pruning (M-step) -> corpus re-encoded "
    "under the iteration-2 vocabulary. The composition proves the EM "
    "loop composes the way a real SentencePiece trainer iterates, the "
    "q203->q204 bounded-composition convention. Pruning makes the DP "
    "partial, so the fold records NULL for unreachable positions and "
    "drops unsegmentable words (the oracle's dp2 chain simply has no "
    "row there — tested equivalent); the hard-EM invariant guarantees "
    "every calibration word survives. Both DP passes are per-DISTINCT-"
    "word over the once-checkpointed word table; the corpus is touched "
    "exactly twice regardless of iteration count.",
)
def q212_unigram_encode_em2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_encode_docs_em2(load(spark, sf_dir, "documents"))


# --- Training to convergence (q219): the EM loop a real SentencePiece
# trainer runs, with the kcore_fixpoint discipline (localCheckpoint per
# iteration, raise past max_iters) ----------------------------------------

_TRAJ_SCHEMA = (
    "iter bigint, n_vocab bigint, n_seg_words bigint,"
    " n_pieces bigint, ll_bits bigint"
)


def _segmentable(dp: DataFrame) -> DataFrame:
    """(word, n, m, best, f) for words whose final DP state is reachable
    under the current (possibly pruned) vocab."""
    final = "try_element_at(best, CAST(length(word)+1 AS INT))"
    return dp.withColumn("f", F.expr(final)).where(F.col("f").isNotNull())


def unigram_train(
    docs: DataFrame,
    *,
    target_vocab: int | None = None,
    max_iters: int = 10,
    exact_iters: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Iterate the q207/q212 hard-EM cycle to a FIXPOINT (piece set AND
    integer weights unchanged) or down to ``target_vocab`` pieces,
    whichever is asked for. Returns (scored vocab (p, w), per-iteration
    trajectory rows). Raises RuntimeError past ``max_iters`` without
    convergence — the kcore_fixpoint discipline; ``exact_iters`` runs a
    fixed number of cycles instead (the oracle-paired q219 shape).

    Per iteration: ONE Viterbi pass over the distinct-word table (JVM
    fold, vocabulary-bounded), usage extraction, integer re-binning,
    optional size-targeted prune (keep top pieces by usage — the
    SentencePiece shrink schedule, 3/4 per round, floored at the
    target). The corpus itself is scanned exactly once (word-table
    build) no matter how many iterations run; every per-iteration
    relation is vocab-sized and localCheckpointed so lineage stays flat.

    Rounds run on :func:`~.dedup.fixpoint` as two eager checkpoints:
    the segmentation, observing the trajectory stats, and the vocab
    state (p, w, w_prev) — the full outer join of the previous and next
    pieces — observing its size and exact changed-piece count.

    Log-likelihood: in pure-EM mode (no ``target_vocab``) each word's
    previous segmentation stays available to the next DP (its pieces
    were just counted), so corpus ll_bits is non-decreasing per
    iteration (tested); with a size target, pruning used pieces can
    lower it — that trade-off is the trajectory's story."""
    words, occ, scored, _ = _dp_bundle(docs)
    traj: list[dict] = []

    def _em_round(state: DataFrame, observed: tuple) -> DataFrame:
        n_vocab = observed[0]
        live = state.where(F.col("w").isNotNull()).select("p", "w")
        # seg is consumed TWICE per round (the trajectory stats and the
        # usage extraction): materialize it so the Viterbi fold — the
        # round's dominant compute — runs once per round
        stats = Observation()
        seg = (
            _segmentable(_dp_with_scores(words, live, occ))
            .observe(
                stats,
                F.sum("n").cast("long").alias("n_seg_words"),
                F.sum(F.col("n") * F.col("f.k")).cast("long").alias("n_pieces"),
                F.sum(F.col("n") * F.col("f.v")).cast("long").alias("ll_bits"),
            )
            .localCheckpoint(eager=True)
        )
        traj.append({"iter": len(traj) + 1, "n_vocab": n_vocab, **stats.get})
        usage = _usage(seg)
        if target_vocab is not None:
            keep = max(target_vocab, (n_vocab * 3) // 4)
            usage = usage.orderBy(F.col("n_viterbi").desc(), "piece").limit(keep)
        nxt = _rebin(usage)
        return live.withColumnRenamed("w", "w_prev").join(nxt, "p", "full")

    def _done(prev: tuple | None, cur: tuple) -> bool:
        if exact_iters is not None:
            return len(traj) == exact_iters
        n_vocab, n_changed = cur
        return prev is not None and (
            not n_changed or (target_vocab is not None and n_vocab <= target_vocab)
        )

    state = fixpoint(
        scored.select("p", "w", F.lit(None).cast("long").alias("w_prev")),
        _em_round,
        [F.count("w"), F.count_if(~F.col("w").eqNullSafe(F.col("w_prev")))],
        _done,
        exact_iters if exact_iters is not None else max_iters,
        "unigram_train",
    )
    return state.where(F.col("w").isNotNull()).select("p", "w"), traj


# --- q219 oracle: generation-3 CTE chain, the generalized pattern of
# _usage_ctes/_dp2_ctes applied once more --------------------------------


def _usage2_ctes() -> str:
    """E-step over the ITERATION-2 DP (appended after _dp2_ctes): same
    choice-table + recursive backtrack as _usage_ctes, but over
    cand2/alldp2, seeded from enc2 (only words segmentable under the
    pruned vocab backtrack)."""
    return """choice2 AS (
  SELECT c.word, c.i AS pos, MAX(c.l) AS l
  FROM cand2 c
  JOIN alldp2 dprev ON dprev.word = c.word AND dprev.i = c.i - c.l
  JOIN alldp2 dcur ON dcur.word = c.word AND dcur.i = c.i
  WHERE dprev.v + c.w = dcur.v AND dprev.k + 1 = dcur.k
  GROUP BY c.word, c.i
),
bt2(word, pos) AS (
  SELECT word, CAST(length(word) AS BIGINT) AS pos FROM enc2
  UNION ALL
  SELECT b.word, b.pos - c.l
  FROM bt2 b JOIN choice2 c ON c.word = b.word AND c.pos = b.pos
  WHERE b.pos > 0
),
pieces_used2 AS (
  SELECT b.word,
         substring(b.word, CAST(b.pos - c.l + 1 AS INTEGER),
                   CAST(c.l AS INTEGER)) AS p
  FROM bt2 b JOIN choice2 c ON c.word = b.word AND c.pos = b.pos
),
usage2 AS MATERIALIZED (
  SELECT p.p AS piece, CAST(SUM(w.n) AS BIGINT) AS n_viterbi
  FROM pieces_used2 p JOIN words w ON w.word = p.word GROUP BY p.p
),
utot2 AS MATERIALIZED (
  SELECT length(bin(CAST(SUM(n_viterbi) AS BIGINT))) AS but FROM usage2
)"""


def _dp3_ctes() -> str:
    """M-step + iteration-3 DP chain (sc3/cand3/dp3_i/alldp3/enc3) —
    _dp2_ctes' pattern applied to usage2."""
    parts = [
        """sc3 AS MATERIALIZED (
  SELECT piece AS p,
         CAST(length(bin(n_viterbi)) - ut.but AS BIGINT) AS w
  FROM usage2, utot2 ut
)""",
        """cand3 AS MATERIALIZED (
  SELECT o.word, o.i, o.l, s.w FROM occ o JOIN sc3 s USING (p)
)""",
        """dp3_0 AS MATERIALIZED (
  SELECT word, CAST(0 AS BIGINT) AS v, CAST(0 AS BIGINT) AS k FROM words
)""",
    ]
    for i in range(1, _MAXW + 1):
        unions = "\n      UNION ALL\n      ".join(
            f"SELECT c.word, d.v + c.w AS v, d.k + 1 AS k "
            f"FROM cand3 c JOIN dp3_{i - lf} d ON d.word = c.word "
            f"WHERE c.i = {i} AND c.l = {lf}"
            for lf in range(1, min(_MAXP, i) + 1)
        )
        parts.append(
            f"""dp3_{i} AS MATERIALIZED (
  SELECT word, v, k FROM (
    SELECT word, v, k,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY v DESC, k ASC) AS rn
    FROM ({unions})
  ) WHERE rn = 1
)"""
        )
    alldp3 = "\n  UNION ALL ".join(
        f"SELECT word, CAST({i} AS BIGINT) AS i, v, k FROM dp3_{i}"
        for i in range(1, _MAXW + 1)
    )
    parts.append(
        f"""alldp3 AS MATERIALIZED (
  SELECT word, CAST(0 AS BIGINT) AS i, v, k FROM dp3_0
  UNION ALL {alldp3}
)"""
    )
    parts.append(
        """enc3 AS MATERIALIZED (
  SELECT w.word, w.n, d.v, d.k
  FROM words w JOIN alldp3 d
    ON d.word = w.word AND d.i = CAST(length(w.word) AS BIGINT)
)"""
    )
    return ",\n".join(parts)


def _q219_oracle() -> str:
    stats = """SELECT CAST({it} AS BIGINT) AS iter,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {sc}) AS n_vocab,
       (SELECT CAST(SUM(n) AS BIGINT) FROM {enc}) AS n_seg_words,
       (SELECT CAST(SUM(n * k) AS BIGINT) FROM {enc}) AS n_pieces,
       (SELECT CAST(SUM(n * v) AS BIGINT) FROM {enc}) AS ll_bits"""
    rows = " UNION ALL ".join(
        stats.format(it=it, sc=sc, enc=enc)
        for it, sc, enc in (
            (1, "sc", "enc"),
            (2, "sc2", "enc2"),
            (3, "sc3", "enc3"),
        )
    )
    return f"""WITH RECURSIVE {_uni_ctes()},
{_usage_ctes()},
{_dp2_ctes()},
{_usage2_ctes()},
{_dp3_ctes()}
{rows}
"""


@register(
    "q219_unigram_train_trajectory",
    oracle=_q219_oracle(),
    doc="Unigram-LM training to convergence, 3-iteration trajectory "
    "(q131's oracle-paired-merges convention applied to EM cycles): "
    "per iteration the vocab size the DP ran under, corpus-weighted "
    "segmentable words, total pieces, and integer-binned corpus "
    "log-likelihood. The Spark side is unigram_train(exact_iters=3) — "
    "the SAME loop users run open-ended with the kcore_fixpoint "
    "discipline (localCheckpoint per round, RuntimeError past "
    "max_iters, optional target_vocab shrink schedule); the oracle "
    "unrolls all three E/M generations as chained CTE families "
    "(dp -> usage -> dp2 -> usage2 -> dp3). Corpus cost is ONE scan "
    "regardless of iteration count; every EM relation is vocab-sized. "
    "Pure-EM ll_bits is non-decreasing across rows (hard-EM), which "
    "tests assert on this trajectory.",
)
def q219_unigram_train_trajectory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, traj = unigram_train(
        load(spark, sf_dir, "documents"), exact_iters=3
    )
    return spark.createDataFrame(
        [
            (
                t["iter"],
                t["n_vocab"],
                t["n_seg_words"],
                t["n_pieces"],
                t["ll_bits"],
            )
            for t in traj
        ],
        _TRAJ_SCHEMA,
    )
