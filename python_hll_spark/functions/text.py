"""Text-analysis column functions for training-data pipelines.

Everything here is pure ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen) — no Python UDFs in these paths, so they run at scan speed over
100TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_RE = "[A-Za-z0-9]+"

# Small, deterministic stopword lists for the n-gram language heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "des", "est", "que", "dans", "pour", "une"],
    "es": ["el", "la", "los", "las", "que", "de", "en", "es", "por", "con"],
}


def word_count(text: Column) -> Column:
    """Number of [A-Za-z0-9]+ word matches (BPE-ish token proxy)."""
    return F.regexp_count(text, F.lit(WORD_RE))


def whitespace_token_count(text: Column) -> Column:
    """Whitespace tokenization count (robust to leading/trailing space)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+")))


BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """BPE-pre-tokenizer-style token count: letter runs, digit runs, and
    individual punctuation/symbol characters each count as one token (the
    GPT-2 pre-tokenizer shape, minus lookahead so the same pattern runs
    identically under Java regex AND RE2/DuckDB — the alternatives have
    disjoint first-character classes, so both engines match identically).
    A budget estimator for LLM training-token accounting."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII letters."""
    letters = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        letters.cast("double") / F.length(text))


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of stopword occurrences for one language's list."""
    pattern = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pattern))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    wc = word_count(text)
    return F.when(wc == 0, F.lit(0.0)).otherwise(
        stopword_hits(text, lang).cast("double") / wc)


def detect_language(text: Column) -> Column:
    """Argmax over per-language stopword hit counts ('und' if all zero)."""
    hits = [(lang, stopword_hits(text, lang)) for lang in sorted(STOPWORDS)]
    best_count = F.greatest(*[h for _, h in hits])
    expr = F.lit("und")
    # reverse order so earlier (alphabetical) languages win ties
    for lang, h in reversed(hits):
        expr = F.when((best_count > 0) & (h == best_count), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: length band + alpha ratio + stopword signal.

    Deterministic arithmetic only, so it can be mirrored exactly in SQL
    oracles."""
    length = F.length(text)
    len_score = F.when(length < 200, length.cast("double") / 200.0).otherwise(
        F.when(length > 20000, F.lit(0.5)).otherwise(F.lit(1.0)))
    return F.round(
        0.4 * len_score + 0.4 * alpha_ratio(text) +
        0.2 * F.least(stopword_ratio(text) * 5.0, F.lit(1.0)), 6)


def doc_fingerprint(text: Column) -> Column:
    """64-bit content fingerprint for exact dedup: xxhash64 of the
    whitespace-normalized lowercased text (JVM-side)."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.xxhash64(normalized)


PII_PATTERNS = {
    # dual-dialect regexes: identical semantics under Java (Spark codegen)
    # and RE2 (DuckDB oracle) — no lookaheads, no backrefs
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern PII match counts (email/url/phone), pure JVM regex."""
    return {name: F.regexp_count(text, F.lit(pat))
            for name, pat in PII_PATTERNS.items()}


def redact_pii(text: Column) -> Column:
    """Replace PII matches with <TYPE> placeholders — the standard
    pre-training scrub.  Email first (so the user@host form is consumed
    before the phone pattern can nibble digits in hostnames), then URLs,
    then phone-like digit runs."""
    out = F.regexp_replace(text, PII_PATTERNS["email"], "<EMAIL>")
    out = F.regexp_replace(out, PII_PATTERNS["url"], "<URL>")
    return F.regexp_replace(out, PII_PATTERNS["phone"], "<PHONE>")


def _norm_word_array(text: Column) -> Column:
    return F.split(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " ")


def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style repetition signals per doc: duplicate-word fraction
    (1 - distinct/total over normalized words) and the count of the most
    frequent word.  Pure JVM array expressions — deterministic and exactly
    mirrorable in SQL, so repetition FILTERS (e.g. drop docs with
    dup_word_frac > 0.5) are oracle-checkable."""
    words = _norm_word_array(F.col(text_col))
    n = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    top_word_cnt = F.array_max(F.transform(
        F.array_distinct(words),
        lambda w: F.size(F.filter(words, lambda x: x == w))))
    return df.select(
        F.col(id_col), n.alias("n_words"), n_distinct.alias("n_distinct_words"),
        F.round(1.0 - n_distinct.cast("double") / n, 6).alias("dup_word_frac"),
        top_word_cnt.alias("top_word_count"))


def unigram_logprob(df, text_col: str = "text", id_col: str = "doc_id",
                    hot_words: int = 10000, cache_out: list | None = None):
    """CCNet-style corpus-self unigram log-probability per doc: build the
    corpus word-frequency table once (an aggregation, not a model), then
    score each doc by the mean log10 probability of its words.  Low scores
    flag gibberish/rare-token docs exactly the way an LM-perplexity filter
    does, without any external model.  All JVM-side: explode -> count ->
    split join -> mean.

    Skew handling: word frequency is Zipfian — "the" alone is ~5% of a web
    corpus, so a plain shuffle join on the word key funnels 10^9+ rows of a
    100 TB corpus through single reducers.  The frequency table therefore
    splits: the ``hot_words`` most frequent words (covering the vast bulk
    of occurrences, yet only KBs of (word, count) rows) join as an
    explicit BROADCAST hash join — no shuffle of their occurrences at all —
    and only the long tail (whose per-word counts are small and balanced by
    construction) takes the shuffle join.  The frequency AGGREGATION itself
    is safe either way: groupBy does map-side partial combine, so each
    reducer receives one partial per task, not one row per occurrence.

    Scan discipline: the frequency table is PERSISTED (vocab-sized — KBs
    to MBs at any corpus scale), so the corpus-wide explode+aggregate runs
    exactly once; the word total, the hot-set sort, and the tail join all
    read the cache instead of re-exploding the corpus (the round-3 plan
    re-executed that lineage three times).  The persist handle is appended
    to ``cache_out`` when given; otherwise it lives until the session
    drops it."""
    words = df.select(F.col(id_col),
                      F.explode(_norm_word_array(F.col(text_col))).alias("w"))
    freq = words.groupBy("w").agg(F.count("*").alias("cnt")).persist()
    if cache_out is not None:
        cache_out.append(freq)
    # corpus word total from the vocab-sized cache — NOT a second corpus
    # scan (sum of per-word counts == occurrence count)
    total = freq.agg(F.sum("cnt")).first()[0] or 0
    # deterministic hot set: top-K by (count desc, word) — vocab-sized sort,
    # never corpus-sized
    hot = freq.orderBy(F.desc("cnt"), F.asc("w")).limit(hot_words)
    hot_scored = words.join(F.broadcast(hot), "w")
    tail_scored = (words.join(F.broadcast(hot.select("w")), "w", "left_anti")
                   .join(freq, "w"))
    scored = (hot_scored.unionByName(tail_scored)
              .withColumn("__lp", F.log10(F.col("cnt") / F.lit(float(total)))))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_words"),
                 # integer companion of the float score: SQL-exact, so the
                 # oracle can verify the explode+count+join machinery even
                 # though float mean ordering is not bit-reproducible
                 F.sum("cnt").alias("sum_corpus_freq"),
                 F.round(F.avg("__lp"), 6).alias("mean_log10_prob")))


def bigram_logprob(df, text_col: str = "text", id_col: str = "doc_id",
                   lam: float = 0.7, hot_keys: int = 30000,
                   cache_out: list | None = None):
    """CCNet-style corpus-self BIGRAM language-model score per doc: the
    sequence-aware upgrade of ``unigram_logprob`` — a doc of common words
    in gibberish ORDER now scores low too.  Each doc is scored by the mean
    log10 of the interpolated conditional probability of its adjacent word
    pairs:

        p(w2 | w1) = lam * c(w1 w2)/c(w1)  +  (1 - lam) * c(w2)/T

    (c = corpus counts, T = total word occurrences) — the classic
    Jelinek-Mercer smoothing, so unseen CONTINUATIONS fall back to the
    unigram model instead of -inf.  Like ``unigram_logprob`` this is an
    aggregation, not a trained model: the corpus is its own LM, which is
    exactly what a perplexity filter needs before any external model
    exists.

    Scale shape: ONE corpus explode builds BOTH vocabularies — unigram
    keys carry no space, bigram keys exactly one, so a single
    map-side-combined groupBy count serves as the joint frequency table
    (persisted; vocab-sized, appended to ``cache_out``).  All probability
    math happens on the VOCAB-sized bigram table (two vocab-vocab joins
    for the c(w1)/c(w2) denominators — AQE picks the strategy), never on
    occurrences.  The corpus-scale scoring pass then joins each bigram
    occurrence against that scored table exactly once, with the same
    Zipf-skew discipline as ``unigram_logprob``: the ``hot_keys`` most
    frequent bigrams ("of the", "in a" — the bulk of occurrences, KBs of
    rows) broadcast, only the balanced long tail takes the shuffle join.

    Returns (id, n_bigrams, sum_bigram_freq, mean_log10_prob) for every
    doc with >= 2 words (one-word/empty docs have no bigram — left-join
    if you need them).  ``sum_bigram_freq`` is the SQL-exact integer
    companion (sum of corpus bigram counts over the doc's bigrams) that
    lets an oracle verify the explode/count/join machinery even though
    float mean ordering is not bit-reproducible.  ``mean_log10_prob`` is
    bounded in [log10((1-lam)/T), 0] by construction (c(w1 w2) <= c(w1),
    c(w2) <= T)."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    words = _norm_word_array(F.col(text_col))
    idx = F.when(F.size(words) >= 2,
                 F.sequence(F.lit(1), F.size(words) - 1)) \
        .otherwise(F.array().cast("array<int>"))
    bigrams = F.transform(idx, lambda i: F.concat_ws(
        " ", F.slice(words, i, 2)))
    freq = (df.select(F.explode(F.concat(words, bigrams)).alias("k"))
            .groupBy("k").agg(F.count("*").alias("cnt")).persist())
    if cache_out is not None:
        cache_out.append(freq)
    uni = freq.where(~F.col("k").contains(" "))
    # word total from the vocab-sized cache, not a second corpus scan
    total = uni.agg(F.sum("cnt")).first()[0] or 0
    u1 = uni.select(F.col("k").alias("__w1"), F.col("cnt").alias("__c_w1"))
    u2 = uni.select(F.col("k").alias("__w2"), F.col("cnt").alias("__c_w2"))
    p = (F.lit(lam) * F.col("cnt") / F.col("__c_w1")
         + F.lit(1.0 - lam) * F.col("__c_w2") / F.lit(float(total or 1)))
    model = (freq.where(F.col("k").contains(" "))
             .withColumn("__w1", F.substring_index("k", " ", 1))
             .withColumn("__w2", F.substring_index("k", " ", -1))
             .join(u1, "__w1").join(u2, "__w2")
             .select("k", F.col("cnt").alias("c_bigram"),
                     F.log10(p).alias("__lp"))
             .persist())
    if cache_out is not None:
        cache_out.append(model)
    occ = df.select(F.col(id_col), F.explode(bigrams).alias("k"))
    # deterministic hot set: vocab-sized sort, never corpus-sized
    hot = model.orderBy(F.desc("c_bigram"), F.asc("k")).limit(hot_keys)
    hot_scored = occ.join(F.broadcast(hot), "k")
    tail_scored = (occ.join(F.broadcast(hot.select("k")), "k", "left_anti")
                   .join(model, "k"))
    return (hot_scored.unionByName(tail_scored)
            .groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("c_bigram").alias("sum_bigram_freq"),
                 F.round(F.avg("__lp"), 6).alias("mean_log10_prob")))


def bigram_logprob_tokens(df, tokens_col: str = "tokens",
                          id_col: str = "doc_id", lam: float = 0.7,
                          hot_keys: int = 262144,
                          cache_out: list | None = None):
    """``bigram_logprob`` for the pre-tokenized input shape (the
    north-rule table): identical Jelinek-Mercer math, but every key is an
    8-BYTE LONG instead of a string — the right 100 TB shape, since the
    frequency shuffle and the scoring join move fixed-width ints, never
    text.  Unigram keys are ``-(t+1)`` (strictly negative), bigram keys
    ``(t1 << 32) | t2`` (non-negative) — disjoint by sign, so ONE corpus
    explode still builds both vocabularies in a single map-side-combined
    aggregation.  Requires token ids in [0, 2^31): true of any vocabulary
    (``tokenize.build_vocab`` ids are 1..V, OOV 0).

    Same outputs and same constructive bounds as the text path; the
    integer companions are exactly equal to the text path's on a
    bijectively-encoded corpus (pinned by the parity test).  The hot-set
    default is larger than the text path's (2^18 vs 30k) because hot rows
    here are fixed 24-byte tuples — measured 18% faster end-to-end at
    2 M docs / 478 M tokens than 30k, while 2^20 regresses (the hot sort
    and broadcast start to dominate)."""
    import numpy as np
    import pyarrow as pa

    from python_hll_spark.operators.aggregate import list_flat_offsets

    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")

    def _pair_keys(flat, offs):
        """(keys int64[], doc_of_pair int64[]) for within-doc adjacent
        pairs, in doc order — the numpy mirror of the JVM
        ``zip_with(slice, slice, (a << 32) + b)`` packing."""
        n = len(flat)
        if n < 2:
            return (np.empty(0, np.int64), np.empty(0, np.int64))
        big = (flat[:-1] << np.int64(32)) + flat[1:]
        last = offs[1:] - 1
        valid = np.ones(n - 1, dtype=bool)
        valid[last[(last >= 0) & (last < n - 1)]] = False
        lens = offs[1:] - offs[:-1]
        docs = np.repeat(np.arange(len(lens), dtype=np.int64),
                         np.maximum(lens - 1, 0))
        return big[valid], docs

    # ---- joint uni+bigram frequency table: Arrow-side partial counting.
    # The explode plan materializes ~2 JVM rows per token (10^9 rows per
    # 500M-token corpus slice) and its map-side hash aggregate falls back
    # to sort/spill at ~10^7 distinct keys per task; the kernel counts
    # each batch with one argsort+reduceat and merges per task, emitting
    # the same pre-combined (k, cnt) partials — integer-exact, so the
    # aggregated table equals the explode plan's row for row.
    def freq_partials(batches):
        acc_k, acc_c = [], []
        for batch in batches:
            flat, offs = list_flat_offsets(batch.column(tokens_col))
            if len(flat) == 0:
                continue
            pk, _ = _pair_keys(flat, offs)
            keys = np.concatenate([-(flat + 1), pk])
            keys.sort()
            bound = np.flatnonzero(np.diff(keys)) + 1
            starts = np.concatenate([[0], bound])
            acc_k.append(keys[starts])
            acc_c.append(np.diff(np.concatenate([starts, [len(keys)]])))
        if not acc_k:
            return
        keys = np.concatenate(acc_k)
        cnts = np.concatenate(acc_c)
        order = np.argsort(keys, kind="stable")
        keys, cnts = keys[order], cnts[order]
        bound = np.concatenate([[0], np.flatnonzero(np.diff(keys)) + 1,
                                [len(keys)]])
        sums = np.add.reduceat(cnts, bound[:-1]) if len(keys) else cnts
        yield pa.RecordBatch.from_arrays(
            [pa.array(keys[bound[:-1]], pa.int64()),
             pa.array(sums.astype(np.int64), pa.int64())],
            names=["k", "cnt"])

    freq = (df.select(tokens_col)
            .mapInArrow(freq_partials, schema="k bigint, cnt bigint")
            .groupBy("k").agg(F.sum("cnt").alias("cnt")).persist())
    if cache_out is not None:
        cache_out.append(freq)
    uni = freq.where(F.col("k") < 0)
    total = uni.agg(F.sum("cnt")).first()[0] or 0
    u1 = uni.select(F.col("k").alias("__k1"), F.col("cnt").alias("__c_w1"))
    u2 = uni.select(F.col("k").alias("__k2"), F.col("cnt").alias("__c_w2"))
    p = (F.lit(lam) * F.col("cnt") / F.col("__c_w1")
         + F.lit(1.0 - lam) * F.col("__c_w2") / F.lit(float(total or 1)))
    model = (freq.where(F.col("k") >= 0)
             .withColumn("__k1", -(F.shiftright("k", 32) + 1))
             .withColumn("__k2",
                         -(F.col("k").bitwiseAND(F.lit(4294967295)) + 1))
             .join(F.broadcast(u1), "__k1").join(F.broadcast(u2), "__k2")
             .select("k", F.col("cnt").alias("c_bigram"),
                     F.log10(p).alias("__lp"))
             .persist())
    if cache_out is not None:
        cache_out.append(model)

    # ---- scoring pass: the hot head of the model rides into the scan as
    # a broadcast sorted-array lookup (numpy searchsorted), so hot
    # occurrences — the bulk, by Zipf — are pre-aggregated per doc INSIDE
    # the kernel and the occurrence frame is exploded once, not three
    # times (hot join + anti + tail of the old plan).  Only tail
    # occurrences leave the kernel as (doc, k) rows for the one shuffle
    # join against the vocab-sized model; per-doc hot partials ride along
    # with spread NEGATIVE keys (model keys are >= 0, so they pass the
    # left join unmatched and no single join partition inherits them all).
    hot_pdf = (model.orderBy(F.desc("c_bigram"), F.asc("k"))
               .limit(hot_keys).toPandas())
    hk = hot_pdf["k"].to_numpy(dtype=np.int64)
    order = np.argsort(hk, kind="stable")
    sc = df.sparkSession.sparkContext
    bc_hot = sc.broadcast((hk[order],
                           hot_pdf["c_bigram"].to_numpy(np.int64)[order],
                           hot_pdf["__lp"].to_numpy(np.float64)[order]))
    id_type = dict(df.dtypes)[id_col]

    def score_partials(batches):
        hks, hc, hlp = bc_hot.value
        nh = len(hks)
        for batch in batches:
            flat, offs = list_flat_offsets(batch.column(tokens_col))
            n_docs = len(offs) - 1
            if n_docs == 0 or len(flat) < 2:
                continue
            keys, docs = _pair_keys(flat, offs)
            if len(keys) == 0:
                continue
            pos = np.searchsorted(hks, keys)
            np.clip(pos, 0, max(nh - 1, 0), out=pos)
            is_hot = (hks[pos] == keys) if nh else \
                np.zeros(len(keys), dtype=bool)
            n_h = np.bincount(docs[is_hot], minlength=n_docs)
            c_h = np.zeros(n_docs, dtype=np.int64)
            lp_h = np.zeros(n_docs, dtype=np.float64)
            np.add.at(c_h, docs[is_hot], hc[pos[is_hot]])
            np.add.at(lp_h, docs[is_hot], hlp[pos[is_hot]])
            ids = batch.column(id_col)
            tail = ~is_hot
            tail_docs = docs[tail]
            has_hot = n_h > 0
            hot_doc_idx = np.flatnonzero(has_hot)
            out_ids = ids.take(pa.array(
                np.concatenate([tail_docs, hot_doc_idx])))
            n_tail = len(tail_docs)
            # spread the per-doc partial rows across join partitions with
            # synthetic negative keys (never present in the model)
            neg = -(1 + (np.arange(len(hot_doc_idx), dtype=np.int64)
                         & np.int64(0xFFF)))
            k_col = np.concatenate([keys[tail], neg])
            nulls = np.full(n_tail, -1, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [out_ids,
                 pa.array(k_col, pa.int64()),
                 pa.array(np.concatenate([nulls, n_h[hot_doc_idx]]),
                          pa.int64()),
                 pa.array(np.concatenate([nulls, c_h[hot_doc_idx]]),
                          pa.int64()),
                 pa.array(np.concatenate(
                     [np.full(n_tail, np.nan), lp_h[hot_doc_idx]]),
                     pa.float64())],
                names=[id_col, "k", "__nh", "__ch", "__lph"])

    partials = df.select(id_col, tokens_col).mapInArrow(
        score_partials,
        schema=f"`{id_col}` {id_type}, k bigint, __nh bigint, "
               f"__ch bigint, __lph double")
    # tail rows match the model (every observed bigram has both unigrams
    # observed); hot-partial rows pass through unmatched on negative keys
    joined = partials.join(model.hint("shuffle_hash"), "k", "left")
    is_tail = F.col("__nh") < 0
    n_occ = F.when(is_tail, F.lit(1)).otherwise(F.col("__nh"))
    c_occ = F.when(is_tail, F.col("c_bigram")).otherwise(F.col("__ch"))
    lp_occ = F.when(is_tail, F.col("__lp")).otherwise(F.col("__lph"))
    return (joined.groupBy(id_col)
            .agg(F.sum(n_occ).alias("n_bigrams"),
                 F.sum(c_occ).alias("sum_bigram_freq"),
                 F.round(F.sum(lp_occ) / F.sum(n_occ), 6)
                 .alias("mean_log10_prob")))


def perplexity_partition(scored: DataFrame,
                         score_col: str = "mean_log10_prob",
                         bucket_col: str = "ppl_bucket",
                         k: int = 200) -> DataFrame:
    """CCNet's head/middle/tail corpus partition: tag each scored doc by
    which LM-score tercile it falls in — "head" is the top third (highest
    mean log-prob = LOWEST perplexity = cleanest text), "tail" the
    bottom.  Training recipes keep head+middle and drop or downweight
    tail.

    Thin naming wrapper over ``length_buckets`` (n_buckets=3), so the
    tercile thresholds come from THIS library's mergeable KLL sketch in
    one pass — no exact sort of 10^12 scores — and assignment is a pure
    JVM projection against two broadcast doubles.  Bucket populations are
    thirds up to the sketch's rank error plus score ties (duplicate docs
    share an identical score and land in one bucket together)."""
    from python_hll_spark.operators.quantiles import length_buckets

    b = length_buckets(scored, score_col, n_buckets=3, k=k)
    name = (F.when(F.col("bucket") == 2, F.lit("head"))
            .when(F.col("bucket") == 1, F.lit("middle"))
            .otherwise(F.lit("tail")))
    return b.withColumn(bucket_col, name).drop("bucket")


def boilerplate_ngram_stats(df, n: int = 5, min_docs: int = 2,
                            text_col: str = "text", id_col: str = "doc_id",
                            cache_out: list | None = None):
    """Cross-document boilerplate detection: per doc, how many of its word
    n-gram windows also occur in at least ``min_docs`` distinct documents
    (headers, footers, navigation chrome, license blurbs — the spans a
    training corpus wants stripped even when whole-doc dedup keeps the
    page).  Returns (id, n_windows, n_common_windows, boilerplate_ratio).

    Scale shape: n-grams travel as 8-byte xxhash64 keys, never strings.
    The per-doc gram arrays are computed ONCE (persisted narrow (id,
    grams) projection — handle appended to ``cache_out``); the document-
    frequency aggregation explodes per-doc-DISTINCT grams (map-side
    combined), and the coverage join is an equi-join on the hash. Unlike
    word frequency, the n-gram df-distribution has no Zipf head for
    n >= 3 (a gram's count is bounded by the docs that truly share the
    phrase), so no hot-set split is needed — the common-gram side is
    corpus-dependent and stays a shuffle join rather than assuming
    broadcastability."""
    words = _norm_word_array(F.col(text_col))
    idx = F.when(F.size(words) >= n,
                 F.sequence(F.lit(1), F.size(words) - n + 1)) \
        .otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.xxhash64(
        F.concat_ws(" ", F.slice(words, i, n))))
    g = df.select(F.col(id_col), grams.alias("__g")).persist()
    if cache_out is not None:
        cache_out.append(g)
    occ = g.select(id_col, F.explode("__g").alias("__h"))
    dfreq = (g.select(id_col, F.explode(F.array_distinct("__g")).alias("__h"))
             .groupBy("__h").agg(F.count("*").alias("__nd")))
    common = dfreq.where(F.col("__nd") >= min_docs).select("__h")
    covered = (occ.join(common, "__h")
               .groupBy(id_col).agg(F.count("*").alias("n_common_windows")))
    sizes = g.select(id_col, F.size("__g").alias("n_windows"))
    return (sizes.join(covered, id_col, "left")
            .select(id_col, "n_windows",
                    F.coalesce("n_common_windows", F.lit(0))
                    .alias("n_common_windows"))
            .withColumn("boilerplate_ratio",
                        F.when(F.col("n_windows") > 0,
                               F.round(F.col("n_common_windows")
                                       / F.col("n_windows"), 6))
                        .otherwise(F.lit(0.0))))


def _utf8_buffer(txt):
    """(data uint8[], offs int64[]) zero-copy view of a pyarrow string
    column's concatenated utf-8 buffer and ABSOLUTE offsets into it —
    the one shared copy of the slice/null/large-string/array-offset
    handling every byte-level Arrow kernel here needs (see
    ``murmur3.word_hash_segments`` for why pyarrow's own splitters are
    avoided near buffer tails).  Nulls read as empty strings."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if txt.null_count:
        txt = pc.fill_null(txt, "")
    if pa.types.is_large_string(txt.type):
        txt = txt.cast(pa.string())
    n_docs = len(txt)
    buf_off = np.frombuffer(txt.buffers()[1], dtype=np.int32,
                            count=n_docs + 1 + txt.offset)
    offs = buf_off[txt.offset:].astype(np.int64)
    dbuf = txt.buffers()[2]
    data = (np.frombuffer(dbuf, dtype=np.uint8)
            if dbuf is not None else np.empty(0, dtype=np.uint8))
    return data, offs


def winnowing_fingerprints(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 8,
                           window: int = 16) -> DataFrame:
    """(id, fingerprints array<bigint>): winnowed rolling-hash fingerprints.

    Standard winnowing (Schleimer/Wilkerson/Aiken): hash every k-gram of the
    normalized text with a polynomial rolling hash, then keep the minimum
    hash of each sliding window of ``window`` k-grams (dedup'd).

    Fully vectorized ACROSS docs (no per-row Python): the rolling-hash
    recurrence runs once over the chunk's concatenated utf-8 buffer — a
    k-gram hash is a pure function of its k bytes, so positions whose
    window straddles a doc boundary are simply masked out afterwards.
    Sliding-window minima likewise run over the concatenated valid-hash
    array with boundary-crossing windows masked; docs shorter than one
    window take their first global min via a segmented reduce.  Chunked at
    doc boundaries (~256KB of text per chunk) to keep temporaries
    cache-sized."""
    import numpy as np
    import pyarrow as pa
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql import functions as FF

    from python_hll_spark.operators.dedup import fan_out_small_input
    df = fan_out_small_input(df)

    B_INT = 1000003
    M = 1 << 64
    BK = np.uint64(pow(B_INT, k, M))
    BINV = np.uint64(pow(B_INT, -1, M))
    B = np.uint64(B_INT)
    POWERS = np.array([pow(B_INT, k - 1 - j, M) for j in range(k)],
                      dtype=np.uint64)
    CHUNK_BYTES = 1 << 18

    norm = FF.regexp_replace(FF.lower(FF.trim(FF.col(text_col))), r"\s+", " ")
    pruned = df.select(FF.col(id_col), norm.alias("__t"))

    def compute(batches):
        for batch in batches:
            txt = batch.column("__t")
            n_docs = len(txt)
            if n_docs == 0:
                continue
            data, offs = _utf8_buffer(txt)

            counts = np.zeros(n_docs, dtype=np.int64)
            values_parts: list = []
            s = 0
            while s < n_docs:
                e = int(np.searchsorted(offs, offs[s] + CHUNK_BYTES, "left"))
                e = min(max(e - 1, s + 1), n_docs)
                lo, hi = offs[s], offs[e]
                L = int(hi - lo)
                ng = L - k + 1
                if ng <= 0:
                    s = e
                    continue
                d64 = data[lo:hi].astype(np.uint64)
                # global rolling hash over the concatenated chunk: each
                # h[p] is the k-gram polynomial at byte p (doc-agnostic)
                h = np.empty(ng, dtype=np.uint64)
                h[0] = (d64[:k] * POWERS).sum(dtype=np.uint64)
                if ng > 1:
                    # h[i] = h[i-1]*B - d[i-1]*B^k + d[i+k-1] (mod 2^64)
                    # -> prefix sum after dividing out B^i (B odd, so
                    # B^-1 exists mod 2^64; uint64 wraparound IS mod 2^64)
                    binv_pow = np.cumprod(np.full(ng - 1, BINV, dtype=np.uint64))
                    term = (d64[k:] - d64[:ng - 1] * BK) * binv_pow
                    acc = np.cumsum(term, dtype=np.uint64) + h[0]
                    b_pow = np.cumprod(np.full(ng - 1, B, dtype=np.uint64))
                    h[1:] = acc * b_pow
                # mask k-grams whose window crosses a doc boundary
                doc_starts = offs[s:e] - lo
                doc_lens = np.diff(offs[s:e + 1])
                pos = np.arange(ng)
                didx = np.searchsorted(doc_starts, pos, side="right") - 1
                valid = (pos + k) <= (doc_starts[didx] + doc_lens[didx])
                hv = h[valid]
                dv = didx[valid]
                Lv = len(hv)
                if Lv == 0:
                    s = e
                    continue
                n_per_doc = np.bincount(dv, minlength=e - s)
                sel_mask = np.zeros(Lv, dtype=bool)
                # long docs: sliding-window argmin over the concatenated
                # valid hashes; windows spanning two docs are masked
                if Lv >= window:
                    mins_rel = sliding_window_view(hv, window).argmin(axis=1)
                    ok = dv[:Lv - window + 1] == dv[window - 1:]
                    sel_mask[(mins_rel + np.arange(Lv - window + 1))[ok]] = True
                # short docs (0 < n_i < window): first global min per doc
                short = (n_per_doc > 0) & (n_per_doc < window)
                if short.any():
                    seg_starts = np.zeros(e - s, dtype=np.int64)
                    np.cumsum(n_per_doc[:-1], out=seg_starts[1:])
                    nonempty = n_per_doc > 0
                    mins = np.full(e - s, np.iinfo(np.uint64).max, dtype=np.uint64)
                    mins[nonempty] = np.minimum.reduceat(hv, seg_starts[nonempty])
                    cand = np.nonzero((hv == mins[dv]) & short[dv])[0]
                    _, first = np.unique(dv[cand], return_index=True)
                    sel_mask[cand[first]] = True
                sel = np.nonzero(sel_mask)[0]
                sd, sv = dv[sel], hv[sel]
                # per-doc sorted-unique fingerprint values
                order = np.lexsort((sv, sd))
                sd, sv = sd[order], sv[order]
                keep = np.ones(len(sd), dtype=bool)
                keep[1:] = (sd[1:] != sd[:-1]) | (sv[1:] != sv[:-1])
                sd, sv = sd[keep], sv[keep]
                counts[s:e] += np.bincount(sd, minlength=e - s)
                values_parts.append(sv.view(np.int64))
                s = e

            values = (np.concatenate(values_parts) if values_parts
                      else np.empty(0, dtype=np.int64))
            list_offsets = np.zeros(n_docs + 1, dtype=np.int32)
            np.cumsum(counts, out=list_offsets[1:])
            fps = pa.ListArray.from_arrays(pa.array(list_offsets, pa.int32()),
                                           pa.array(values, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col), fps], names=[id_col, "fingerprints"])

    id_type = dict(df.dtypes)[id_col]
    return pruned.mapInArrow(compute,
                             schema=f"`{id_col}` {id_type}, fingerprints array<bigint>")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return (df
            .withColumn("n_words", word_count(t))
            .withColumn("n_ws_tokens", whitespace_token_count(t))
            .withColumn("n_bpe_tokens", bpe_token_count(t))
            .withColumn("alpha_ratio", F.round(alpha_ratio(t), 6))
            .withColumn("quality", quality_score(t))
            .withColumn("lang_pred", detect_language(t))
            .withColumn("fingerprint", doc_fingerprint(t)))


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         min_words: int = 50, max_words: int = 100_000,
                         min_mean_word_len: float = 3.0,
                         max_mean_word_len: float = 10.0,
                         max_symbol_word_ratio: float = 0.1,
                         min_alpha_word_frac: float = 0.8,
                         min_stopword_hits: int = 2) -> DataFrame:
    """Gopher-style rule-based document filter (Rae et al. 2021, §A1.1):
    the standard pre-training quality gate applied AFTER dedup and BEFORE
    mixture sampling.  Deterministic subset of the published rules, every
    one a pure JVM expression (whole-stage codegen, zero Python) with an
    exact SQL mirror — so the filter is value-oracle-checkable, unlike
    model-based scorers:

    - ``ok_word_count``     word count in [min_words, max_words]
    - ``ok_mean_word_len``  mean word length in [3, 10] (computed as
      alphanumeric-char count / word count — identical because words ARE
      the [A-Za-z0-9]+ runs)
    - ``ok_symbol_ratio``   ('#' + '...') occurrences / words <= 0.1
    - ``ok_alpha_words``    >= 80% of whitespace tokens contain a letter
    - ``ok_stopwords``      >= 2 English stopword occurrences

    Returns (id, n_words, 5 rule booleans, n_rules_failed, keep).  100-TB
    shape: a single narrow scan projection, no shuffle, no state — filters
    compose with any downstream groupBy without widening its exchange.
    """
    t = F.col(text_col)
    rules = gopher_rule_columns(
        t, min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_word_ratio=max_symbol_word_ratio,
        min_alpha_word_frac=min_alpha_word_frac,
        min_stopword_hits=min_stopword_hits)
    n_failed = sum((~r).cast("int") for r in rules.values())
    keep = n_failed == 0
    return df.select(
        F.col(id_col), word_count(t).alias("n_words"),
        *[r.alias(name) for name, r in rules.items()],
        n_failed.alias("n_rules_failed"), keep.alias("keep"))


def gopher_rule_columns(t: Column, min_words: int = 50,
                        max_words: int = 100_000,
                        min_mean_word_len: float = 3.0,
                        max_mean_word_len: float = 10.0,
                        max_symbol_word_ratio: float = 0.1,
                        min_alpha_word_frac: float = 0.8,
                        min_stopword_hits: int = 2) -> dict:
    """The individual Gopher rule predicates as named Columns — the
    building block ``gopher_quality_flags`` reports on, and the form
    ``prepare_corpus`` ANDs into its single observed filter scan."""
    n_words = word_count(t)
    n_alnum = F.length(F.regexp_replace(t, "[^A-Za-z0-9]", ""))
    # ANSI-safe denominators: the `n > 0` guards below do NOT protect the
    # divisions — subexpression elimination hoists a ratio used by two
    # comparisons out of the And's short-circuit — so every denominator is
    # clamped to >= 1 (semantics unchanged: the guard decides the rule)
    mean_wl = n_alnum.cast("double") / F.greatest(n_words, F.lit(1))
    n_symbols = (F.regexp_count(t, F.lit("#"))
                 + F.regexp_count(t, F.lit(r"\.\.\.")))
    ws_toks = F.split(F.trim(t), r"\s+")
    n_ws = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(ws_toks))
    n_alpha_toks = F.when(
        F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.filter(ws_toks, lambda x: x.rlike("[A-Za-z]"))))
    return {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (n_words > 0) & (mean_wl >= min_mean_word_len)
                            & (mean_wl <= max_mean_word_len),
        "ok_symbol_ratio": (n_words > 0) & (
            n_symbols.cast("double") / F.greatest(n_words, F.lit(1))
            <= max_symbol_word_ratio),
        "ok_alpha_words": (n_ws > 0) & (
            n_alpha_toks.cast("double") / F.greatest(n_ws, F.lit(1))
            >= min_alpha_word_frac),
        "ok_stopwords": stopword_hits(t, "en") >= min_stopword_hits,
    }


def gopher_keep(t: Column, **thresholds) -> Column:
    """Single boolean: the doc passes every Gopher rule."""
    rules = list(gopher_rule_columns(t, **thresholds).values())
    out = rules[0]
    for r in rules[1:]:
        out = out & r
    return out


def line_dedup(df: DataFrame, min_docs: int = 2, text_col: str = "text",
               id_col: str = "doc_id", cache_out: list | None = None
               ) -> DataFrame:
    """CCNet/RefinedWeb-style duplicated-line removal: any line whose
    trimmed form occurs in >= ``min_docs`` DISTINCT documents (cookie
    banners, nav menus, copyright footers — the chrome whole-doc dedup
    never touches) is removed from EVERY document; empty/whitespace-only
    lines are structural and never counted or removed.  Removing from all
    occurrences (rather than keep-first) makes the result independent of
    document order — a requirement for a deterministic distributed pass.

    Returns all original columns plus ``clean_text`` (kept lines joined
    with newlines), ``n_lines`` and ``n_removed``.

    100-TB shape: line text NEVER travels through a shuffle.  One
    persisted narrow projection holds per-doc trimmed-line xxhash64
    arrays (8 bytes/line); the document-frequency aggregation explodes
    per-doc-DISTINCT hashes with map-side combine; the duplicate-hash
    join returns only REMOVED (doc, position) pairs — ints — which group
    to a per-doc removal list; the rebuild is a second corpus scan that
    drops lines by position.  The only corpus-sized exchange is the
    rebuild's join on ``id_col``, and AQE broadcasts the removal side
    whenever duplication is sparse.
    """
    lines = F.split(F.col(text_col), "\n")
    lh = F.transform(
        lines, lambda l: F.when(F.length(F.trim(l)) > 0,
                                F.xxhash64(F.trim(l))))
    g = df.select(F.col(id_col), lh.alias("__lh")).persist()
    if cache_out is not None:
        cache_out.append(g)
    nonnull = F.filter("__lh", lambda h: h.isNotNull())
    dfreq = (g.select(F.explode(F.array_distinct(nonnull)).alias("__h"))
             .groupBy("__h").agg(F.count("*").alias("__nd")))
    common = dfreq.where(F.col("__nd") >= min_docs).select("__h")
    occ = (g.select(F.col(id_col),
                    F.posexplode("__lh").alias("__pos", "__h"))
           .where(F.col("__h").isNotNull()))
    removed = (occ.join(common, "__h")
               .groupBy(id_col)
               .agg(F.collect_list("__pos").alias("__rm")))
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    kept = F.filter(lines, lambda l, i: ~F.array_contains(rm, i))
    return (df.join(removed, id_col, "left")
            .withColumn("clean_text", F.concat_ws("\n", kept))
            .withColumn("n_lines", F.size(lines))
            .withColumn("n_removed", F.size(rm))
            .drop("__rm"))


def strip_common_ngrams(df: DataFrame, n: int = 5, min_docs: int = 2,
                        text_col: str = "text", id_col: str = "doc_id",
                        cache_out: list | None = None) -> DataFrame:
    """Substring-level dedup ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2021 — word-granularity variant): every
    word position covered by an ``n``-gram window that occurs in >=
    ``min_docs`` DISTINCT documents is REMOVED, and the doc is rebuilt
    from the surviving words.  This is the rewrite companion to
    ``boilerplate_ngram_stats`` (which only reports coverage): license
    blurbs, quote chains and templated spans are cut even when the
    containing docs are not near-duplicates of anything.

    Granularity note: the rebuild operates on the normalized word stream
    (lowercased, whitespace-collapsed — the same stream the n-grams are
    defined on), so ``clean_text`` is normalized words joined by single
    spaces.  Returns original columns + ``clean_text``, ``n_words``,
    ``n_covered_words``.

    100-TB shape (same discipline as ``line_dedup``): grams travel as
    8-byte xxhash64 keys; the persisted projection is (id, gram-hash
    array); the document-frequency agg explodes per-doc-DISTINCT hashes
    map-side-combined; the common-gram join emits only HIT (id, window)
    int pairs; the rebuild expands windows to covered positions JVM-side
    and filters by index — word text never crosses an exchange, and the
    only corpus-sized exchange is the rebuild's join on ``id_col``
    (AQE-broadcast when duplication is sparse)."""
    words = _norm_word_array(F.col(text_col))
    idx = F.when(F.size(words) >= n,
                 F.sequence(F.lit(1), F.size(words) - n + 1)) \
        .otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.xxhash64(
        F.concat_ws(" ", F.slice(words, i, n))))
    g = df.select(F.col(id_col), grams.alias("__g")).persist()
    if cache_out is not None:
        cache_out.append(g)
    dfreq = (g.select(F.explode(F.array_distinct("__g")).alias("__h"))
             .groupBy("__h").agg(F.count("*").alias("__nd")))
    common = dfreq.where(F.col("__nd") >= min_docs).select("__h")
    hits = (g.select(F.col(id_col),
                     F.posexplode("__g").alias("__pos", "__h"))
            .join(common, "__h")
            .groupBy(id_col).agg(F.collect_list("__pos").alias("__w")))
    wins = F.coalesce(F.col("__w"), F.array().cast("array<int>"))
    covered = F.array_distinct(F.flatten(F.transform(
        wins, lambda w: F.sequence(w, w + n - 1))))
    kept = F.filter(words, lambda x, i: ~F.array_contains(covered, i))
    return (df.join(hits, id_col, "left")
            .withColumn("clean_text", F.concat_ws(" ", kept))
            .withColumn("n_words", F.size(words))
            .withColumn("n_covered_words", F.size(covered))
            .drop("__w"))


def char_entropy_frame(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, n_chars, n_distinct_chars, entropy): per-doc Shannon entropy of
    the utf-8 byte distribution — the classic cheap garbage/binary/encoding
    detector (low entropy = repeated filler, high ~8 bits = compressed or
    binary junk that survived text extraction; CCNet and RefinedWeb both
    gate on a variant of this).

    Fully vectorized ACROSS docs (no per-row Python): one zero-copy pass
    over the batch's concatenated utf-8 buffer — per-row byte histograms
    come from a single ``np.bincount`` over ``row_index*256 + byte`` keys,
    so the kernel is one allocation + one scatter regardless of row count.
    Entropy uses the n*log2(n) form, ``log2(t) - sum(n*log2 n)/t``, the
    same association a SQL mirror computes, so an ASCII corpus (1 byte ==
    1 char) oracles EXACTLY.  Zero shuffle; composes into any scan.

    On non-ASCII text this is byte entropy, not code-point entropy — still
    the right quality signal (it is what the compression bound sees), just
    not SQL-char-mirrorable.  NULL text counts as empty (entropy 0.0)."""
    import pyarrow as pa

    id_type = dict(df.dtypes)[id_col]
    pruned = df.select(F.col(id_col), F.col(text_col).alias("__t"))

    def compute(batches):
        for batch in batches:
            ids = batch.column(id_col)
            txt = batch.column("__t")
            if len(txt) == 0:
                continue
            lengths, distinct, ent = _entropy_math(*_utf8_buffer(txt),
                                                   n_docs=len(txt))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(lengths), pa.array(distinct),
                 pa.array(ent, pa.float64())],
                names=[id_col, "n_chars", "n_distinct_chars", "entropy"])

    return pruned.mapInArrow(
        compute,
        schema=(f"`{id_col}` {id_type}, n_chars bigint, "
                "n_distinct_chars bigint, entropy double"))


def _entropy_math(data, offs, n_docs):
    """(lengths, n_distinct, entropy) per row from a concatenated utf-8
    buffer view: per-row byte histograms via one ``np.bincount`` over
    ``row*256 + byte`` keys; entropy in the ``log2(t) - sum(n log2 n)/t``
    association (SQL-mirrorable on ASCII corpora)."""
    import numpy as np

    lengths = offs[1:] - offs[:-1]
    row_ids = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)
    chunk = data[offs[0]:offs[-1]].astype(np.int64)
    counts = np.bincount(row_ids * 256 + chunk,
                         minlength=n_docs * 256).reshape(n_docs, 256)
    distinct = (counts > 0).sum(axis=1).astype(np.int64)
    nlogn = np.zeros_like(counts, dtype=np.float64)
    nz = counts > 0
    cf = counts[nz].astype(np.float64)
    nlogn[nz] = cf * np.log2(cf)
    tot = lengths.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        ent = np.log2(tot) - nlogn.sum(axis=1) / tot
    ent[lengths == 0] = 0.0
    return lengths, distinct, ent


def entropy_column(text_col: str) -> tuple:
    """``("entropy", "double", make)``: per-row byte entropy of
    ``text_col`` as an ``aggregate.append_columns`` spec (same math as
    ``char_entropy_frame``)."""
    def entropy(batch):
        txt = batch.column(text_col)
        return _entropy_math(*_utf8_buffer(txt), n_docs=len(txt))[2]
    return "entropy", "double", lambda: entropy


def with_char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """ALL original columns + ``entropy`` double in ONE passthrough
    mapInArrow (``aggregate.append_columns`` with ``entropy_column``) —
    the filter-stage shape: no (id, entropy) join back, no shuffle;
    ``df.where(F.col("entropy").between(lo, hi))`` composes directly.
    Values identical to ``char_entropy_frame`` (same math)."""
    from python_hll_spark.operators.aggregate import append_columns

    return append_columns(df, [entropy_column(text_col)])
